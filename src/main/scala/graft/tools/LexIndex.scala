package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.ops.TextOps

/** CLI: lexical (BM25) index BUILD / SEARCH split with persisted
  * artifacts — [[IndexCorpus]]'s counterpart for the lexical arm of a
  * hybrid retrieval stack. Build tokenizes the corpus ONCE into the
  * classic IR artifacts; search runs against the files alone, so the
  * serving path never touches the raw corpus:
  *
  *   - `postings`  (t, id, tf, dl) — the inverted index, term-keyed,
  *     with the document length DENORMALIZED into each row so the
  *     serve path scores from the searched lists alone;
  *   - `doclens`   (id, dl)       — per-document term counts (the
  *     authoritative source for stats rewrites);
  *   - `stats`     (key, value)   — n docs, total terms, avgdl, gram,
  *     term-bucket count.
  *
  * Storage goes through [[Artifacts]] (round 13): every artifact is a
  * set of manifest-listed SEGMENTS, postings segments PARTITIONED by
  * a term-hash bucket `tb = pmod(hash(t), buckets)`. Consequences the
  * round-12 `coalesce(1)` layout couldn't give:
  *
  *   - builds/compacts write with `repartition(tb)` — every core
  *     writes, nothing funnels through one task;
  *   - the serve path's literal `t IN (...)` predicate is joined by a
  *     literal `tb IN (...)` PARTITION filter (buckets derived from
  *     the same hash at query time), so untouched posting buckets are
  *     pruned at directory level before row-group stats are even
  *     consulted;
  *   - a command's writes (an ingest's postings+doclens+docids+stats)
  *     publish in ONE manifest flip — no half-applied ingest states
  *     (closing the round-12 advisory crash window where content
  *     could land without its manifest row), and compact never
  *     overwrites the files it reads, so a crash mid-compact leaves
  *     the old index serving byte-identically.
  *
  * Scoring is [[TextOps.bm25Scores]]'s exact-integer Okapi contract
  * (k1 = 1.2, b = 0.75 with cleared denominators; idf =
  * floor(log2(n/df)), idf-0 terms pruned — a search term in more
  * than half the corpus contributes nothing and generates no
  * candidates). The q267 driver row proves a search through the
  * artifacts equals the q260 oracle chain bit-for-bit.
  *
  * `update` ingests NEW documents into an existing index: their
  * postings and doc lengths APPEND as new segments (df needs no
  * maintenance — search derives it from the postings at query time)
  * and the scalar stats rewrite from the updated doclens. The lexical
  * update is EXACT: an updated index is state-identical to a fresh
  * build over the union — q268 proves it under the driver hash by
  * sharing q267's full-build oracle.
  *
  * Lifecycle: `delete` retracts documents by TOMBSTONE (O(deleted);
  * q271 proves post-delete search == a fresh build over the
  * survivors), `compact` folds the tombstones into the files and
  * merges append segments without forgetting the retraction set
  * (q272 proves answers unchanged). `compact --threshold <permille>`
  * is INCREMENTAL: only segments whose tombstone-hit density crosses
  * the threshold rewrite; cold segments' files are untouched (q285 +
  * LexIndexSpec prove answers unchanged and cold files unmodified),
  * so a retraction wave localized in recent appends costs the dirty
  * segments, not the index. The docids artifact is the EVER-INGESTED
  * manifest — it only grows, which is what makes retraction permanent
  * across update/compact.
  *
  * Usage:
  *   runMain graft.tools.LexIndex build <docs.parquet> <indexDir>
  *     [--id doc_id] [--text text] [--gram 2] [--buckets 16]
  *   runMain graft.tools.LexIndex update <indexDir> <newDocs.parquet>
  *     [--id doc_id] [--text text]
  *   runMain graft.tools.LexIndex delete <indexDir> <ids.parquet>
  *     [--id doc_id]
  *   runMain graft.tools.LexIndex compact <indexDir>
  *     [--threshold <permille>]
  *   runMain graft.tools.LexIndex search <indexDir> "<query text>"
  *     [--k 10] [--filter "<sqlExpr over id, t, tf, dl>"]
  *     [--at <manifestVersion>]
  *   runMain graft.tools.LexIndex searchBatch <indexDir>
  *     <queries.parquet> [--id query_id] [--text text] [--k 10]
  *     [--filter "<sqlExpr>"] [--max-inline-terms 4096]
  *     [--max-broadcast-probes 262144] [--at <manifestVersion>]
  *   runMain graft.tools.LexIndex history <indexDir>
  *   runMain graft.tools.LexIndex export <srcIndexDir> <dstIndexDir>
  *     [--at <manifestVersion>]
  *   runMain graft.tools.LexIndex fsck <indexDir>
  *   runMain graft.tools.LexIndex contention <indexDir>
  *
  * The lifecycle shared with [[IndexCorpus]] — delete, compact,
  * history, export, fsck, contention, the retention flags every
  * mutating command accepts, and the `--at V` TIME-TRAVEL read of
  * `search`/`searchBatch` (q300's full-corpus oracle through a
  * post-delete index is the driver-checked proof) — lives in
  * [[IndexLifecycle]]; this object supplies the lexical artifacts,
  * kernels and audits.
  */
object LexIndex extends IndexLifecycle {

  protected def appName = "graft-lexindex"
  protected def familyCommands = Seq(
    "build" -> (build _), "update" -> (update _),
    "search" -> (search _), "searchBatch" -> (searchBatch _))
  protected def members = "docids"
  protected def idColumn = "doc_id"

  /** The term-hash bucket expression — MUST match between build and
    * search (search derives each query term's bucket with the same
    * Spark murmur3 `hash`, then inlines the buckets as a literal
    * partition predicate). The count is a BUILD-TIME knob recorded in
    * stats and honored by every later command, so deployments size it
    * to the corpus (the 16 default fits the test scales; at 100 TB
    * you want enough buckets that one bucket's posting lists are a
    * few files — search cost is per-bucket-touched, and a query
    * touches at most |terms| buckets at any count).
    */
  private def termBucket(buckets: Long) =
    Artifacts.Bucket("tb", pmod(hash(col("t")), lit(buckets)), Seq("t"))

  /** The driver-side evaluation of the SAME bucket expression: seed 42
    * is the `hash()` SQL function's seed [[termBucket]] partitions
    * with. LexIndexSpec pins this against a Spark-computed
    * `pmod(hash(t), buckets)` over a sample vocabulary, so a future
    * change to the build's bucketing expression cannot silently
    * diverge from the serve path's driver math (round-18 VERDICT
    * item 8 — the coupling now fails a test instead of mis-routing).
    */
  private[tools] def termBucketOf(t: String, buckets: Long): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(t),
        org.apache.spark.sql.types.StringType)), 42).eval(null)
      .asInstanceOf[Int]
    java.lang.Math.floorMod(h.toLong, buckets)
  }

  /** Build the postings/doclens/stats artifacts; returns
    * (artifact, rows) per write.
    */
  def build(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: build <docs.parquet> <indexDir> [flags]")
    val (in, out) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", "doc_id")
    val textCol = flags.getOrElse("text", "text")
    val gram = flags.getOrElse("gram", "2").toInt
    val buckets = flags.getOrElse("buckets", "16").toLong
    GraftSession.tune(spark)
    import spark.implicits._

    val docs = spark.read.parquet(in)
    val toks = docs.select(col(idCol).cast("long").as("id"),
      explode(TextOps.ngrams(col(textCol), gram)).as("t"))
    val postings0 = graft.Scratch.cache(
      toks.groupBy(col("t"), col("id")).agg(count(lit(1)).as("tf")))
    var pend = Map.empty[String, Seq[String]]
    val written = Seq.newBuilder[(String, Long)]
    // counted writes (round 17): every row count — and the two stats
    // scalars — is captured DURING the segment write it describes
    // (Dataset.observe), replacing one read-back count job per
    // artifact plus a docs.count() pass and a doclens re-aggregate
    // (4 extra jobs per build; at scale, second scans of output the
    // write pass had just materialized)
    def write(name: String, df: DataFrame,
        bucket: Option[Artifacts.Bucket] = None,
        extra: Seq[org.apache.spark.sql.Column] = Nil): (Long, Seq[Any]) = {
      val (seg, rows, xs) =
        Artifacts.writeSegmentCounted(spark, out, name, df, bucket, extra)
      pend += name -> Seq(seg)
      written += (name -> rows)
      (rows, xs)
    }
    // the document length DENORMALIZES into every posting row (dl,
    // appended last — positional readers unaffected): search then
    // scores from the searched lists ALONE, with no corpus-sized
    // doclens join on the serve path (the impact-ordered-postings
    // layout; doclens stays authoritative for stats rewrites)
    val dlDf = postings0.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
    write("postings", postings0.join(dlDf, Seq("id"))
      .select(col("t"), col("id"), col("tf"), col("dl")),
      Some(termBucket(buckets)))
    // toktot observes as sum(dl) on the doclens write; a ZERO-DOC
    // build (the legitimate bootstrap of the streaming ingest path —
    // q275 builds empty, then micro-batches populate via ingestFrame)
    // observes a null sum -> 0
    val toktot = write("doclens", dlDf, extra = Seq(sum(col("dl"))))._2 match {
      case Seq(l: java.lang.Long) => l.longValue()
      case Seq(null)              => 0L
      case other => sys.error(s"unexpected observed toktot: $other")
    }
    // the doc-id MANIFEST: every ingested id, including zero-token
    // documents (text shorter than the gram) that never reach
    // doclens — update's dedup anti-joins THIS, not doclens, so
    // re-ingesting an empty doc can't double-count n / avgdl's
    // denominator. Its observed count IS the document count (taken
    // straight from the write — round-18 ADVICE fix: the previous
    // shape called written.result() mid-stream and kept appending,
    // which Builder declares undefined).
    val n = write("docids", docs.select(col(idCol).cast("long").as("id")))._1
    write("stats", Seq(
      ("n", n), ("toktot", toktot),
      ("avgdl", if (n > 0) toktot / n else 0L), ("gram", gram.toLong),
      ("buckets", buckets))
      .toDF("key", "value").coalesce(1))
    Artifacts.commit(spark, out, pend)
    refresh(spark, out)
    written.result()
  }

  /** Incremental ingest: append the new documents' postings and doc
    * lengths as new segments (ids already present OR ever retracted
    * are rejected — the docids manifest is EVER-INGESTED, so a
    * tombstoned id can never resurface; see [[delete]]), then rewrite
    * the scalar stats from the live state via [[statsFrame]] — the
    * shared path, so a delete-then-update sequence can't write a
    * toktot that still counts tombstoned documents. All four segments
    * publish in ONE manifest flip — an ingest is atomic; a crash
    * before the flip leaves the previous index state (no
    * indexed-but-unmanifested content, no duplicate re-ingest rows).
    * The tokenizer gram comes from the index's own stats. EXACT by
    * construction: see object doc.
    */
  def update(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: update <indexDir> <newDocs.parquet> [flags]")
    val (idx, in) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", "doc_id")
    val textCol = flags.getOrElse("text", "text")
    Artifacts.applyRetentionFlag(spark, flags, idx)
    Seq("ingested" ->
      ingestFrame(spark, idx, spark.read.parquet(in), idCol, textCol))
  }

  /** The incremental-ingest core shared by the [[update]] CLI and the
    * STREAMING maintenance path (q275's foreachBatch calls this once
    * per micro-batch — each batch appends its postings/doclens and
    * rewrites the scalar stats, so the index is SEARCHABLE and exact
    * between batches, and the end-of-stream state is identical to one
    * batch build over everything that arrived). The per-batch stats
    * rewrite costs one doclens aggregate — metadata-sized next to the
    * corpus text the batch just tokenized.
    */
  def ingestFrame(spark: SparkSession, idx: String, docs: DataFrame,
      idCol: String, textCol: String): Long = {
    GraftSession.tune(spark)
    Artifacts.requireManifest(spark, idx)

    val stats0 = Artifacts.collectKV(spark, idx, "stats")
    val gram = stats0("gram").toInt
    val buckets = stats0.getOrElse("buckets", 16L)
    // localCheckpoint cuts lineage back to the artifacts this command
    // supersedes (same discipline as IndexCorpus.update). Dedup
    // against the docids MANIFEST, not doclens: a zero-token document
    // never appears in doclens, so a doclens anti-join would re-admit
    // it and double-count n.
    val known = Artifacts.read(spark, idx, "docids").select(col("id"))
    val fresh = graft.Scratch.localCheckpoint(
      docs
        .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
        .join(known, Seq("id"), "left_anti"))
    val newPostings = graft.Scratch.cache(fresh
      .select(col("id"), explode(TextOps.ngrams(col("text"), gram)).as("t"))
      .groupBy(col("t"), col("id")).agg(count(lit(1)).as("tf")))
    val newDl = newPostings.groupBy(col("id")).agg(sum(col("tf")).as("dl"))
    // CONCURRENT-WRITER path: the three content segments are written
    // once (base-independent deltas), then the commit rebases onto
    // whatever manifest is current at publish time — a competing
    // ingest that wins the CAS race is merged under, not clobbered
    // (Artifacts.commitAppendsWithRetry). The stats frame is the one
    // state-DEPENDENT artifact, so it re-derives from the rebased
    // working map on every attempt. Rebasing is sound only while the
    // writers' batches are DISJOINT: this command deduped `fresh`
    // against the docids manifest it started from, so if a competitor
    // committed any of OUR ids meanwhile, merging would double-ingest
    // them — validateRebase detects that and aborts (re-running the
    // command re-dedups against the merged state).
    val segP = Artifacts.writeSegment(spark, idx, "postings",
      newPostings.join(newDl, Seq("id"))
        .select(col("t"), col("id"), col("tf"), col("dl")),
      Some(termBucket(buckets)))
    val segD = Artifacts.writeSegment(spark, idx, "doclens", newDl)
    // counted write (round 17): the ingested-row count rides the
    // docids write — the previous fresh.count() was a separate
    // materialization pass over the checkpointed batch
    val (segI, nNew, _) = Artifacts.writeSegmentCounted(spark, idx,
      "docids", fresh.select(col("id")))
    val deltas = Map("postings" -> Seq(segP), "doclens" -> Seq(segD),
      "docids" -> Seq(segI))
    Artifacts.commitAppendsWithRetry(spark, idx, deltas,
      finish = pend => pend + ("stats" ->
        Seq(Artifacts.writeSegment(spark, idx, "stats",
          statsFrame(spark, idx, pend)))),
      validateRebase = () => {
        val mine = Artifacts.readSegs(spark, idx, "docids", Seq(segI))
        val clash = Artifacts.read(spark, idx, "docids")
          .join(mine, Seq("id"), "left_semi").count()
        if (clash > 0) throw Artifacts.CommitConflictException(idx,
          Artifacts.currentVersion(spark, idx) + 1,
          s"$clash doc ids were concurrently ingested by another " +
            "writer; re-run this ingest to re-dedup against the merged state")
      })
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    nNew
  }

  /** `history` columns: per-version collection statistics (n, toktot,
    * avgdl) — each version's scalar stats artifact read through
    * `Artifacts.withPinned`, so the row is exactly what a
    * `search --at version` serves from, and `history` runs ZERO Spark
    * jobs (manifest + stats-footer metadata only). q304's oracle
    * re-derives every row in closed form from the corpus and the
    * command sequence.
    */
  protected def historyColumns = Seq("n", "toktot", "avgdl")
  protected def versionStats(spark: SparkSession, idx: String,
      chain: Seq[Long]): Seq[Seq[Long]] =
    chain.map { v =>
      val s0 = Artifacts.withPinned(spark, idx, v) {
        Artifacts.collectKV(spark, idx, "stats")
      }
      Seq(s0("n"), s0("toktot"), s0("avgdl"))
    }

  /** `fsck` invariants, lexical arm:
    *
    *   - postings_dl_mismatch: posting rows whose denormalized dl
    *     disagrees with the doclens artifact for that id.
    *   - postings_tf_sum_mismatch: ids whose postings tf-sum != dl
    *     (the tokenizer identity: document length IS the sum of its
    *     term frequencies).
    *   - stats_n / stats_toktot: the scalar stats artifact vs a fresh
    *     recount of the live state (docids minus tombstones; doclens
    *     restricted to live ids) — BM25's collection statistics must
    *     equal what a from-scratch rebuild would compute (the q268/
    *     q271 equivalence, auditable without a rebuild).
    *
    * The content checks run over ALL rows including tombstoned ones
    * (postings and doclens carry dead rows symmetrically until a
    * compact folds them out).
    */
  protected def invariants = Seq("postings_dl_mismatch",
    "postings_tf_sum_mismatch", "stats_n", "stats_toktot")
  protected def audit(spark: SparkSession, idx: String): Seq[(Long, Long)] = {
    val stats0 = Artifacts.collectKV(spark, idx, "stats")
    val live = graft.Scratch.cache(liveIds(spark, idx, Map.empty))
    val postings = graft.Scratch.cache(
      Artifacts.read(spark, idx, "postings")
        .select(col("id"), col("tf"), col("dl")))
    val doclens = Artifacts.read(spark, idx, "doclens")
      .select(col("id"), col("dl").as("dl_doc"))
    // ALL FOUR audit scalars in ONE job (round 18): each invariant
    // contributes a tagged branch to a single union-aggregate — the
    // previous shape scheduled four separate count/sum jobs per fsck
    val audit = live
      .select(lit("n").as("inv"), lit(1L).as("v"))
      .unionByName(Artifacts.read(spark, idx, "doclens")
        .join(broadcast(live), Seq("id"), "left_semi")
        .select(lit("tok").as("inv"), col("dl").as("v")))
      .unionByName(postings.select(col("id"), col("dl")).distinct()
        .join(doclens, Seq("id"), "left_outer")
        .filter(col("dl_doc").isNull || col("dl") =!= col("dl_doc"))
        .select(lit("dlm").as("inv"), lit(1L).as("v")))
      .unionByName(postings
        .groupBy(col("id"), col("dl"))
        .agg(sum(col("tf")).as("tfsum"))
        .filter(col("tfsum") =!= col("dl"))
        .select(lit("tfs").as("inv"), lit(1L).as("v")))
      .groupBy(col("inv")).agg(sum(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq((audit.getOrElse("dlm", 0L), 0L), (audit.getOrElse("tfs", 0L), 0L),
      (stats0("n"), audit.getOrElse("n", 0L)),
      (stats0("toktot"), audit.getOrElse("tok", 0L)))
  }

  /** Compact plan, lexical arm: postings and doclens filter the
    * tombstones; docids merges UNFILTERED in full mode (the
    * ever-ingested manifest must not forget — a post-compact
    * [[update]] would otherwise re-admit a retracted id) and never
    * rewrites incrementally (an unfiltered manifest merge buys nothing
    * a delete wave needs back). Postings keep the bucket count the
    * index was built with.
    */
  protected def compactPlan(spark: SparkSession, idx: String,
      thresholdPm: Option[Long]): Seq[(String, Boolean, Option[Artifacts.Bucket])] = {
    val buckets = Artifacts.collectKV(spark, idx, "stats")
      .getOrElse("buckets", 16L)
    Seq(("postings", true, Some(termBucket(buckets))), ("doclens", true, None)) ++
      (if (thresholdPm.isEmpty) Seq(("docids", false, None)) else Nil)
  }

  /** The stats step: the scalar stats frame re-derived from the
    * working state, so delete/compact (and every retry attempt) leave
    * n / avgdl counting exactly the searchable documents.
    */
  override protected def withStats(spark: SparkSession, idx: String,
      pend: Map[String, Seq[String]]): Map[String, Seq[String]] =
    Artifacts.withReplaced(spark, idx, pend, "stats", statsFrame(spark, idx, pend))

  /** The scalar stats frame recomputed from the CURRENT live state
    * (pending overrides) — shared by build/update/delete/compact so n
    * and avgdl always reflect exactly the searchable documents.
    */
  private def statsFrame(spark: SparkSession, idx: String,
      pending: Map[String, Seq[String]]): DataFrame = {
    import spark.implicits._
    val stats0 = Artifacts.collectKV(spark, idx, "stats")
    val live = graft.Scratch.cache(liveIds(spark, idx, pending))
    // BOTH scalars in ONE job (round 18): n rides a unit-count branch
    // unioned under the toktot aggregate — the previous shape ran a
    // live.count() job and then a separate doclens-sum job on every
    // stats rewrite (every lex ingest/delete/compact attempt, and
    // once per streaming micro-batch on q275's maintenance path)
    val agg = live.select(lit(1L).as("cnt"), lit(0L).as("dl"))
      .unionByName(rd(spark, idx, "doclens", pending)
        .join(broadcast(live), Seq("id"), "left_semi")
        .select(lit(0L).as("cnt"), col("dl")))
      .agg(coalesce(sum(col("cnt")), lit(0L)),
        coalesce(sum(col("dl")), lit(0L))).head()
    val n = agg.getLong(0)
    val toktot = agg.getLong(1)
    Seq(("n", n), ("toktot", toktot),
      ("avgdl", if (n > 0) toktot / n else 0L), ("gram", stats0("gram")),
      ("buckets", stats0.getOrElse("buckets", 16L)))
      .toDF("key", "value").coalesce(1)
  }

  /** Search the persisted index with a raw query string: tokenize it
    * with the index's own gram setting (distinct terms, query-side
    * tf ignored — the standard set-of-terms BM25 form this engine
    * pins everywhere), restrict the postings to the searched terms,
    * anti-join the tombstones (a retracted document must neither
    * appear in results nor inflate df — the q271 contract), derive
    * df, prune idf-0 terms, score the surviving candidate lists,
    * top-k by (score desc, id). The tombstone anti-join runs AFTER
    * the term restriction, so its left side is the searched posting
    * lists, never the whole index.
    *
    * The term restriction is a LITERAL `t IN (...)` data predicate
    * PLUS a literal `tb IN (...)` PARTITION predicate (the terms'
    * murmur3 buckets, derived by the same expression the build
    * partitioned with): PushedFilters prunes row groups by min/max +
    * dictionary, PartitionFilters prunes whole bucket DIRECTORIES —
    * the round-13 upgrade over row-group-only pruning. A broadcast
    * join (the round-11 form) planned a FULL postings scan per query;
    * the ServeProbe decades measure the difference (SCALING.md).
    */
  def search(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 2, "usage: search <indexDir> <query> [flags]")
    atVersion(spark, args, 2)(searchImpl(spark, args))
  }

  private def searchImpl(spark: SparkSession, args: Array[String]): DataFrame = {
    val (idx, query) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val k = flags.getOrElse("k", "10").toInt
    val filterSql = flags.get("filter")
    GraftSession.tune(spark)
    import spark.implicits._

    val stats = Artifacts.collectKV(spark, idx, "stats")
    val n = stats("n")
    val avgdl = stats("avgdl")
    val gram = stats("gram").toInt
    val buckets = stats.getOrElse("buckets", 16L)
    // tokenize the query string ON THE DRIVER with the same kernel
    // the index used (round 17: the previous shape ran a one-row
    // Spark job per search just to split a query string — pure
    // scheduling overhead on the serve path). The bucket derives from
    // the SAME catalyst Murmur3Hash expression the build partitioned
    // with, evaluated directly, so build/search bucketing can never
    // diverge.
    val terms = graft.ops.TextKernels.ngrams(query, gram, distinct = true)
      .map(_.toString).toSeq
    if (terms.isEmpty)
      // a query shorter than the gram has no terms, hence no candidates
      return spark.range(0).select(col("id"), col("id").as("score"))
    val tbs = terms.map(t => Long.box(termBucketOf(t, buckets))).distinct
    val postingsAll = Artifacts.read(spark, idx, "postings")
    val qPost0 = (
      if (postingsAll.schema.fieldNames.contains("tb"))
        postingsAll.filter(col("tb").isin(tbs: _*))
      else postingsAll)
      .filter(col("t").isin(terms: _*))
    val qPost = graft.Scratch.cache(
      if (Artifacts.exists(spark, idx, "tombstones"))
        qPost0.join(
          Artifacts.read(spark, idx, "tombstones").select(col("id")),
          Seq("id"), "left_anti")
      else qPost0)
    val dfq = broadcast(qPost
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        (length(conv(expr(s"$n DIV df"), 10, 2)) - 1).cast("long"))
      .filter(col("idf") > 0)
      .select(col("t"), col("idf")))
    // --filter restricts CANDIDATES only, after df derives: term
    // statistics stay corpus-level (the filter-query contract — a
    // stratum member's score is identical to the unfiltered search's,
    // and a member is never lost), applied to the searched lists,
    // never the whole index. The expression sees the posting columns
    // (id, t, tf, dl).
    val cand = filterSql.fold(qPost: DataFrame)(f => qPost.filter(expr(f)))
    // current indexes carry dl inside the posting rows — the score
    // derives from the searched lists alone; a legacy (pre-dl) index
    // pays the doclens join it was built with
    val scored =
      if (postingsAll.schema.fieldNames.contains("dl"))
        cand.join(dfq, Seq("t"))
      else cand.join(dfq, Seq("t"))
        .join(Artifacts.read(spark, idx, "doclens"), Seq("id"))
    scored
      .withColumn("term", expr(
        s"idf * 22000 * tf * $avgdl DIV " +
          s"(10*tf*$avgdl + 3*$avgdl + 9*dl)"))
      .groupBy(col("id")).agg(sum(col("term")).as("score"))
      .orderBy(col("score").desc, col("id")).limit(k)
  }

  /** BATCH serving: score EVERY query of a (query_id, text) frame in
    * ONE pass over the index — the production shape (round-13 brief
    * item 3: thousands of probes amortize one job's fixed cost; the
    * single-query path pays the ~second-scale job floor per probe).
    * Per-query semantics are IDENTICAL to [[search]]: same tokenizer,
    * same set-of-terms form, same tombstone handling, same integer
    * BM25, per-query top-k by (score desc, id) — q282's oracle is the
    * per-query replay of q267's chain.
    *
    * Plan shape: the UNION of all queries' terms restricts the
    * postings scan (literal `tb IN` partition filter always — the
    * bucket set is at most `buckets` values; plus the literal
    * `t IN` data filter while the term union stays inline-able), the
    * (query_id, t) pairs broadcast onto the restricted lists, df
    * derives ONCE per term (it is a per-term global), and the
    * per-query top-k is one WindowGroupLimit — no per-query jobs, no
    * driver loop.
    */
  def searchBatch(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 2,
      "usage: searchBatch <indexDir> <queries.parquet> [flags]")
    atVersion(spark, args, 2)(searchBatchImpl(spark, args, None))
  }

  /** [[searchBatch]] with the query frame passed DIRECTLY instead of
    * a parquet path — the streaming-serve entry point (a foreachBatch
    * handler scores each micro-batch's queries without a per-trigger
    * write+read round-trip). `args` omit the queries path:
    * <indexDir> [flags]. Semantics are byte-identical to the path
    * form (which now routes through this).
    */
  def searchBatchFrame(spark: SparkSession, args: Array[String],
      queries: DataFrame): DataFrame = {
    require(args.length >= 1,
      "usage: searchBatchFrame <indexDir> [flags] + frame")
    val full = args.take(1) ++ Array("__query_frame__") ++ args.drop(1)
    atVersion(spark, args, 1)(searchBatchImpl(spark, full, Some(queries)))
  }

  private def searchBatchImpl(spark: SparkSession,
      args: Array[String], queriesOpt: Option[DataFrame]): DataFrame = {
    val (idx, in) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", "query_id")
    val textCol = flags.getOrElse("text", "text")
    val k = flags.getOrElse("k", "10").toInt
    // terms inline into the scan as literals while the union is small
    // (driver-bounded); past the cap only the bucket partition filter
    // restricts the scan and the terms meet it as a broadcast join
    val maxInline = flags.getOrElse("max-inline-terms", "4096").toInt
    // the probe frame broadcasts onto the restricted posting lists
    // while it fits executor memory; past the cap (measured in
    // (query, term) pairs — the broadcast's actual row count) the
    // same join runs as a SHUFFLE (merge-hinted, so AQE can't
    // re-broadcast a frame the caller declared too big) — millions
    // of probes serve without a driver-side OOM, at one extra
    // exchange of the probe pairs
    val maxBcast = flags.getOrElse("max-broadcast-probes", "262144").toLong
    GraftSession.tune(spark)

    val stats = Artifacts.collectKV(spark, idx, "stats")
    val n = stats("n")
    val avgdl = stats("avgdl")
    val gram = stats("gram").toInt
    val buckets = stats.getOrElse("buckets", 16L)

    val qTerms = graft.Scratch.cache(queriesOpt
      .getOrElse(spark.read.parquet(in))
      .select(col(idCol).cast("long").as("qid"), col(textCol).as("text"))
      .select(col("qid"),
        explode(array_distinct(TextOps.ngrams(col("text"), gram))).as("t")))
    // the distinct (t, tb) union: tb set is bounded by the bucket
    // count; the term list inlines only below the cap. Round 18
    // (VERDICT item 1): the per-term PAIR COUNT rides the same job —
    // sum(n) over the un-truncated term union is exactly the
    // qTerms.count() the broadcast-cap decision used to run as its
    // own job per search.
    val termRows = qTerms.groupBy(col("t"))
      .agg(count(lit(1)).as("n"))
      .select(col("t"), pmod(hash(col("t")), lit(buckets)).as("tb"),
        col("n"))
      .limit(maxInline + 1).collect()
    val inline = termRows.length <= maxInline
    val postingsAll = Artifacts.read(spark, idx, "postings")
    val bucketed = postingsAll.schema.fieldNames.contains("tb")
    // (query, term) pair total for the broadcast cap: exact from the
    // inline term rows; past the cap it rides the bucket-union job
    var nPairs = termRows.map(_.getLong(2)).sum
    val scanned0 =
      if (!bucketed) postingsAll
      else if (inline)
        postingsAll.filter(col("tb").isin(
          termRows.map(r => Long.box(r.getLong(1))).distinct.toSeq: _*))
      else {
        // one job yields the full bucket union AND the exact pair
        // count the truncated inline probe could not
        val r = qTerms.agg(
          collect_set(pmod(hash(col("t")), lit(buckets))).as("tbs"),
          count(lit(1)).as("np")).head()
        nPairs = r.getLong(1)
        postingsAll.filter(col("tb").isin(
          r.getSeq[Long](0).map(Long.box).toSeq: _*))
      }
    // legacy (un-bucketed) index past the inline cap: the truncated
    // term probe cannot give the exact pair total — fall back to the
    // explicit count rather than under-feed the broadcast cap
    if (!inline && !bucketed) nPairs = qTerms.count()
    val scanned =
      if (inline) scanned0.filter(col("t").isin(
        termRows.map(_.getString(0)).toSeq: _*))
      else scanned0.join(broadcast(qTerms.select(col("t")).distinct()),
        Seq("t"), "left_semi")
    val qPost = graft.Scratch.cache(
      if (Artifacts.exists(spark, idx, "tombstones"))
        scanned.join(
          Artifacts.read(spark, idx, "tombstones").select(col("id")),
          Seq("id"), "left_anti")
      else scanned)
    // df is a PER-TERM global — derived once from the restricted
    // lists, shared by every query that searched the term
    val dfq = qPost
      .groupBy(col("t")).agg(count(lit(1)).as("df"))
      .withColumn("idf",
        (length(conv(expr(s"$n DIV df"), 10, 2)) - 1).cast("long"))
      .filter(col("idf") > 0)
      .select(col("t"), col("idf"))
    // legacy (pre-dl) indexes stay servable at batch scale too: the
    // same doclens-join fallback the single-query path keeps
    val qPostDl0 =
      if (postingsAll.schema.fieldNames.contains("dl")) qPost
      else qPost.join(Artifacts.read(spark, idx, "doclens"), Seq("id"))
    // --filter: candidates only, after df — the single-query contract
    val qPostDl = flags.get("filter")
      .fold(qPostDl0)(f => qPostDl0.filter(expr(f)))
    val probeSide =
      if (nPairs <= maxBcast) broadcast(qTerms)
      else qTerms.hint("merge")
    val scored = qPostDl.join(probeSide, Seq("t"))
      .join(broadcast(dfq), Seq("t"))
      .withColumn("term", expr(
        s"idf * 22000 * tf * $avgdl DIV " +
          s"(10*tf*$avgdl + 3*$avgdl + 9*dl)"))
      .groupBy(col("qid"), col("id")).agg(sum(col("term")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid").as("query_id"), col("rnk"), col("id"), col("score"))
      .orderBy(col("query_id"), col("rnk"))
  }
}
