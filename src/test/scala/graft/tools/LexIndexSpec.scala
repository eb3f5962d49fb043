package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Build/search e2e over the persisted lexical artifacts: the search
  * answer must match the hand-computed integer BM25 values of
  * CurationOpsSpec's pins, straight from the files.
  */
class LexIndexSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "LexIndexSpec")

  private def corpusDir(): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("lexidx_corpus").toString
    Seq(
      (0L, "apple banana"),
      (1L, "apple apple apple cherry"),
      (2L, "cherry durian"),
      (3L, "durian elderberry fig grape"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    s"$d/documents.parquet"
  }

  test("build artifacts + string-query search reproduce the " +
    "hand-computed BM25 values; unknown terms yield no rows") {
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx").toString
    val res = LexIndex.build(spark,
      Array(in, s"$idx/lex", "--gram", "1")).toMap
    // 10 distinct (term, doc) postings: apple{0,1} banana{0}
    // cherry{1,2} durian{2,3} elderberry/fig/grape{3}
    assert(res("postings") == 10L)
    assert(res("doclens") == 4L)
    assert(res("stats") == 5L)

    // "apple banana": doc0 = 1157 + 2315 = 3472, doc1 = 1466
    // (CurationOpsSpec's bm25TopK pin, served from the files)
    val got = LexIndex.search(spark, Array(s"$idx/lex", "apple banana"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 3472L), (1L, 1466L)))

    // single term re-ranks: doc1 (tf 3 -> 1466) above doc0 (1157)
    val one = LexIndex.search(spark, Array(s"$idx/lex", "apple"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(one == Seq((1L, 1466L), (0L, 1157L)))

    // a term absent from the corpus generates no candidates
    assert(LexIndex.search(spark, Array(s"$idx/lex", "kumquat"))
      .collect().isEmpty)

    // duplicate query terms collapse (set-of-terms form)
    val dup = LexIndex.search(spark, Array(s"$idx/lex", "apple apple"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dup == one)
  }

  test("update: subset build + incremental ingest answers exactly " +
    "like a full build; already-ingested ids are rejected") {
    import spark.implicits._
    val in = corpusDir()
    val sub = Files.createTempDirectory("lexidx_sub").toString
    spark.read.parquet(in).filter(col("doc_id") < 2)
      .write.mode("overwrite").parquet(s"$sub/part.parquet")

    val full = Files.createTempDirectory("lexidx_full").toString
    LexIndex.build(spark, Array(in, s"$full/lex", "--gram", "1"))
    val inc = Files.createTempDirectory("lexidx_inc").toString
    LexIndex.build(spark,
      Array(s"$sub/part.parquet", s"$inc/lex", "--gram", "1"))
    // feed the WHOLE corpus: docs 0-1 must be rejected, 2-3 ingested
    val res = LexIndex.update(spark, Array(s"$inc/lex", in)).toMap
    assert(res("ingested") == 2L)

    for (q <- Seq("apple banana", "cherry durian", "kumquat")) {
      val a = LexIndex.search(spark, Array(s"$full/lex", q))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val b = LexIndex.search(spark, Array(s"$inc/lex", q))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(a == b, s"query '$q': full=$a incremental=$b")
    }
    // stats rewrote to the full-corpus values
    val st = spark.read.parquet(s"$inc/lex/stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("n") == 4L && st("toktot") == 12L && st("avgdl") == 3L)
  }

  test("update: a zero-token document (no grams at the index's gram " +
    "size) is still deduped on re-ingest — n does not double-count") {
    import spark.implicits._
    val d = Files.createTempDirectory("lexidx_zero").toString
    // gram=2: doc 7 ("solo") emits NO bigrams, so it never reaches
    // doclens — only the docids manifest knows it was ingested
    Seq((7L, "solo"), (8L, "alpha beta gamma"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/docs.parquet")
    val idx = Files.createTempDirectory("lexidx_zeroidx").toString
    LexIndex.build(spark, Array(s"$d/docs.parquet", s"$idx/lex",
      "--gram", "2"))
    val st0 = spark.read.parquet(s"$idx/lex/stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st0("n") == 2L)
    assert(spark.read.parquet(s"$idx/lex/doclens").count() == 1L)
    assert(spark.read.parquet(s"$idx/lex/docids").count() == 2L)

    // re-feed the SAME corpus: both docs (including the zero-token
    // one) must be rejected; n and avgdl's denominator stay at 2
    val res = LexIndex.update(spark, Array(s"$idx/lex", s"$d/docs.parquet"))
      .toMap
    assert(res("ingested") == 0L)
    val st1 = spark.read.parquet(s"$idx/lex/stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st1("n") == 2L && st1("toktot") == st0("toktot"))
  }

  private def searchPairs(idx: String, q: String): Seq[(Long, Long)] =
    LexIndex.search(spark, Array(idx, q))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("delete: post-delete search equals a fresh build over the " +
    "survivors (results, df, and n/avgdl all exclude the retracted " +
    "docs); absent ids are ignored") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_del").toString
    LexIndex.build(spark, Array(in, s"$idx/lex", "--gram", "1"))
    // retract docs 1 and 2 (plus an id the index never saw)
    val ids = Files.createTempDirectory("lexidx_delids").toString
    Seq(1L, 2L, 99L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$ids/del.parquet")
    val res = LexIndex.delete(spark,
      Array(s"$idx/lex", s"$ids/del.parquet")).toMap
    assert(res("deleted") == 2L)

    // the survivor reference: a fresh index over docs {0, 3}
    val surv = Files.createTempDirectory("lexidx_surv").toString
    spark.read.parquet(in)
      .filter(col("doc_id") === 0 || col("doc_id") === 3)
      .write.mode("overwrite").parquet(s"$surv/docs.parquet")
    val ref = Files.createTempDirectory("lexidx_refidx").toString
    LexIndex.build(spark,
      Array(s"$surv/docs.parquet", s"$ref/lex", "--gram", "1"))
    for (q <- Seq("apple banana", "cherry durian", "durian fig", "apple"))
      assert(searchPairs(s"$idx/lex", q) == searchPairs(s"$ref/lex", q),
        s"query '$q'")
    // stats rewrote to the survivor corpus: docs 0 (dl 2) and 3 (dl 4)
    val st = spark.read.parquet(s"$idx/lex/stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("n") == 2L && st("toktot") == 6L && st("avgdl") == 3L)
    // double-delete is a no-op
    assert(LexIndex.delete(spark,
      Array(s"$idx/lex", s"$ids/del.parquet")).toMap.apply("deleted") == 0L)
  }

  test("compact: dead rows gone, fragments merged, answers unchanged, " +
    "and retraction still enforced afterwards (ever-ingested manifest " +
    "+ surviving tombstones)") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_cmp").toString
    // subset build + update so the artifacts carry append FRAGMENTS
    val sub = Files.createTempDirectory("lexidx_cmp_sub").toString
    spark.read.parquet(in).filter(col("doc_id") < 2)
      .write.mode("overwrite").parquet(s"$sub/part.parquet")
    LexIndex.build(spark, Array(s"$sub/part.parquet", s"$idx/lex",
      "--gram", "1"))
    LexIndex.update(spark, Array(s"$idx/lex", in))
    val ids = Files.createTempDirectory("lexidx_cmp_ids").toString
    Seq(1L, 2L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$ids/del.parquet")
    LexIndex.delete(spark, Array(s"$idx/lex", s"$ids/del.parquet"))
    val before = Seq("apple banana", "durian fig", "apple")
      .map(q => q -> searchPairs(s"$idx/lex", q))

    def segsOf(name: String): Seq[String] =
      Artifacts.snapshot(spark, s"$idx/lex").segs(name)
    assert(segsOf("postings").size > 1,
      "update should have appended a segment")
    // dead postings present pre-compact (docs 1 and 2 still on disk)
    assert(spark.read.parquet(s"$idx/lex/postings")
      .filter(col("id").isin(1L, 2L)).count() > 0)

    LexIndex.compact(spark, Array(s"$idx/lex"))

    // physical: one segment per artifact, zero dead rows
    for (n <- Seq("postings", "doclens", "docids"))
      assert(segsOf(n).size == 1, s"$n segments")
    assert(spark.read.parquet(s"$idx/lex/postings")
      .filter(col("id").isin(1L, 2L)).count() == 0)
    assert(spark.read.parquet(s"$idx/lex/doclens")
      .filter(col("id").isin(1L, 2L)).count() == 0)
    // logical: answers unchanged
    for ((q, want) <- before)
      assert(searchPairs(s"$idx/lex", q) == want, s"query '$q'")
    // the manifest is EVER-INGESTED: compact kept the retracted ids,
    // and the tombstones artifact survived
    assert(spark.read.parquet(s"$idx/lex/docids").count() == 4L)
    assert(spark.read.parquet(s"$idx/lex/tombstones").count() == 2L)
    // resurrection rule: re-feeding a tombstoned id after compact is
    // rejected — the retraction is permanent
    val res = LexIndex.update(spark, Array(s"$idx/lex", in)).toMap
    assert(res("ingested") == 0L)
    assert(searchPairs(s"$idx/lex", "apple banana") ==
      before.head._2, "post-update answers must not resurface doc 1")
  }

  test("streaming-ingest core: an empty bootstrap build plus " +
    "per-batch ingestFrame is searchable between batches and " +
    "end-state-identical to a full build") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_stream").toString
    // zero-doc bootstrap (the q275 shape)
    val seed = Files.createTempDirectory("lexidx_seed").toString
    spark.read.parquet(in).limit(0)
      .write.mode("overwrite").parquet(s"$seed/seed.parquet")
    val res0 = LexIndex.build(spark,
      Array(s"$seed/seed.parquet", s"$idx/lex", "--gram", "1")).toMap
    assert(res0("postings") == 0L && res0("stats") == 5L)

    // batch 1: docs {0, 1} — the index must be exact for what arrived
    val b1 = spark.read.parquet(in).filter(col("doc_id") < 2)
    assert(LexIndex.ingestFrame(spark, s"$idx/lex", b1,
      "doc_id", "text") == 2L)
    val mid = searchPairs(s"$idx/lex", "apple banana")
    val ref1 = Files.createTempDirectory("lexidx_ref1").toString
    val sub = Files.createTempDirectory("lexidx_sub1").toString
    b1.write.mode("overwrite").parquet(s"$sub/docs.parquet")
    LexIndex.build(spark,
      Array(s"$sub/docs.parquet", s"$ref1/lex", "--gram", "1"))
    assert(mid == searchPairs(s"$ref1/lex", "apple banana"))

    // batch 2: the full corpus (0-1 deduped away) -> == full build
    assert(LexIndex.ingestFrame(spark, s"$idx/lex",
      spark.read.parquet(in), "doc_id", "text") == 2L)
    val full = Files.createTempDirectory("lexidx_full2").toString
    LexIndex.build(spark, Array(in, s"$full/lex", "--gram", "1"))
    for (q <- Seq("apple banana", "cherry durian", "durian fig"))
      assert(searchPairs(s"$idx/lex", q) == searchPairs(s"$full/lex", q),
        s"query '$q'")
  }

  test("history + export: per-version stats match the lifecycle; an " +
    "export --at a retained version is a STANDALONE index serving " +
    "that version's answers (source untouched)") {
    import spark.implicits._
    val in = corpusDir()
    val tmp = Files.createTempDirectory("lexidx_hist").toString
    val idx = s"$tmp/lex"
    spark.read.parquet(in).filter(col("doc_id") < 2)
      .write.parquet(s"$tmp/part1.parquet")
    try {
      spark.conf.set("spark.graft.keepManifests", "4")
      LexIndex.build(spark, Array(s"$tmp/part1.parquet", idx, "--gram", "1"))
      LexIndex.update(spark, Array(idx, in))
      Seq(1L).toDF("doc_id")
        .write.mode("overwrite").parquet(s"$tmp/del.parquet")
      LexIndex.delete(spark, Array(idx, s"$tmp/del.parquet"))
      // docs: 0 "apple banana"(2) 1 "apple apple apple cherry"(4)
      //       2 "cherry durian"(2) 3 "durian elderberry fig grape"(4)
      // v0 = build{0,1}; v1 = +{2,3}; v2 = -{1}
      val hist = LexIndex.history(spark, Array(idx)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(hist == Seq((0L, 2L, 6L, 3L), (1L, 4L, 12L, 3L),
        (2L, 3L, 8L, 2L)), s"history was $hist")

      // export the PRE-DELETE version: a standalone index whose
      // answers equal the full build's, even though the SOURCE now
      // tombstones doc 1
      val exp = s"$tmp/exp_v1"
      LexIndex.export(spark, Array(idx, exp, "--at", "1"))
      val full = Files.createTempDirectory("lexidx_hist_full").toString
      LexIndex.build(spark, Array(in, s"$full/lex", "--gram", "1"))
      for (q <- Seq("apple banana", "cherry durian", "apple"))
        assert(searchPairs(exp, q) == searchPairs(s"$full/lex", q),
          s"export-at-1 query '$q'")
      // the export is v0 of a FRESH history, one segment per artifact
      assert(Artifacts.manifestVersions(spark, exp) == Seq(0L))
      assert(Artifacts.snapshot(spark, exp).segs("postings").size == 1)
      // current-version export carries the tombstones (faithful
      // snapshot, not a compact) and serves the post-delete answers
      val exp2 = s"$tmp/exp_cur"
      LexIndex.export(spark, Array(idx, exp2))
      for (q <- Seq("apple banana", "cherry durian", "apple"))
        assert(searchPairs(exp2, q) == searchPairs(idx, q),
          s"current export query '$q'")
      // refuses to clobber an existing index
      intercept[IllegalArgumentException] {
        LexIndex.export(spark, Array(idx, exp2))
      }
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("fsck: a healthy lifecycle reads observed == expected on every " +
    "invariant; injected corruption (a lost segment, a forged dl) is " +
    "detected") {
    import spark.implicits._
    val in = corpusDir()
    val tmp = Files.createTempDirectory("lexidx_fsck").toString
    val idx = s"$tmp/lex"
    LexIndex.build(spark, Array(in, idx, "--gram", "1"))
    Seq(2L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    LexIndex.delete(spark, Array(idx, s"$tmp/del.parquet"))
    val rows = LexIndex.fsck(spark, Array(idx)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.size == 6) // incl. contention_strands (round 17)
    assert(rows.forall { case (_, o, e) => o == e },
      s"healthy index failed fsck: $rows")
    // docs 0,1,3 live: n=3, toktot=2+4+4=10
    assert(rows.find(_._1 == "stats_n").get._2 == 3L)
    assert(rows.find(_._1 == "stats_toktot").get._2 == 10L)

    // corruption 1: a manifest-listed segment dir vanishes
    val seg = Artifacts.snapshot(spark, idx).segs("doclens").head
    val segDir = new java.io.File(s"$idx/doclens/$seg")
    val moved = new java.io.File(s"$tmp/stash")
    assert(segDir.renameTo(moved))
    spark.catalog.refreshByPath(idx)
    val broken = LexIndex.fsck(spark, Array(idx)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(broken.find(_._1 == "segments_missing").get._2 >= 1L,
      s"fsck missed the lost segment: $broken")
    assert(moved.renameTo(segDir)) // restore

    // corruption 2: forge a posting row whose dl disagrees with
    // doclens — lands as a new (uncommitted-to-docids) posting
    // segment, written with the artifact's tb-bucketed layout
    spark.catalog.refreshByPath(idx)
    val forged = Artifacts.writeSegment(spark, idx, "postings",
      Seq(("zzz", 0L, 1L, 999L)).toDF("t", "id", "tf", "dl"),
      Some(Artifacts.Bucket("tb", pmod(hash(col("t")), lit(16L)), Seq("t"))))
    val cur = Artifacts.snapshot(spark, idx)
    Artifacts.commit(spark, idx,
      (cur ++ Map("postings" -> (cur.segs("postings") :+ forged))).segments)
    spark.catalog.refreshByPath(idx)
    val forgedRows = LexIndex.fsck(spark, Array(idx)).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(forgedRows("postings_dl_mismatch") >= 1L)
    assert(forgedRows("postings_tf_sum_mismatch") >= 1L)
  }

  test("CONCURRENT ingest: two writers ingesting disjoint batches into " +
    "one index serialize via CAS rebase — the final index answers " +
    "exactly like a full build, whichever writer wins each race") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_conc").toString
    val empty = Files.createTempDirectory("lexidx_conc_e").toString
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$empty/none.parquet")
    LexIndex.build(spark,
      Array(s"$empty/none.parquet", s"$idx/lex", "--gram", "1"))
    try {
      // a prior test's --vacuum-grace-ms 0 would let one writer's
      // post-commit vacuum reclaim the other's pending segments
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      val docs = spark.read.parquet(in)
      val halves = Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futs = halves.map { h =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            LexIndex.ingestFrame(spark, s"$idx/lex", h, "doc_id", "text")
          }
        })
      }
      gate.countDown()
      assert(futs.map(_.get()).sum == 4L)
      pool.shutdown()
      // both commits landed (v0 build + one per writer, in either order)
      assert(Artifacts.currentVersion(spark, s"$idx/lex") == 2L)
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    val full = Files.createTempDirectory("lexidx_conc_full").toString
    LexIndex.build(spark, Array(in, s"$full/lex", "--gram", "1"))
    for (q <- Seq("apple banana", "cherry durian", "durian fig", "apple"))
      assert(searchPairs(s"$idx/lex", q) == searchPairs(s"$full/lex", q),
        s"query '$q'")
  }

  test("LIVE readers during concurrent writers: with the retention " +
    "window sized to the writer count, every search issued during the " +
    "commit storm succeeds and serves a COMMITTED snapshot (validated " +
    "post-hoc against the retained versions via time travel)") {
    import spark.implicits._
    val in = corpusDir()
    val tmp = Files.createTempDirectory("lexidx_live").toString
    val idx = s"$tmp/lex"
    // base index: docs 0-1 (so the probe term 'apple' always answers)
    spark.read.parquet(in).filter(col("doc_id") < 2)
      .write.parquet(s"$tmp/base.parquet")
    LexIndex.build(spark, Array(s"$tmp/base.parquet", idx, "--gram", "1"))
    val docs = spark.read.parquet(in)
    val waves = Seq(docs.filter(col("doc_id") === 2),
      docs.filter(col("doc_id") === 3))
    try {
      // window 3 = base + one per writer: nothing a live reader can
      // resolve is ever vacuumed mid-scan
      spark.conf.set("spark.graft.keepManifests", "3")
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val writersDone = new java.util.concurrent.atomic.AtomicInteger(0)
      val writerFuts = waves.map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            try LexIndex.ingestFrame(spark, idx, w, "doc_id", "text")
            finally { writersDone.incrementAndGet(); () }
          }
        })
      }
      // the reader hammers the index for the storm's whole duration;
      // every answer it gets must later prove to be SOME committed
      // version's answer — no torn reads, no missing-file failures
      val observed = new java.util.concurrent.ConcurrentLinkedQueue[
        Seq[(Long, Long)]]()
      val reader = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.await()
          var n = 0
          while (writersDone.get() < 2 || n < 5) {
            observed.add(searchPairs(idx, "apple"))
            n += 1
          }
          n
        }
      })
      gate.countDown()
      writerFuts.foreach(_.get())
      val nReads = reader.get()
      pool.shutdown()
      assert(nReads >= 5, s"reader only completed $nReads searches")
      // post-hoc validation: replay every retained version via --at
      val valid = Artifacts.manifestVersions(spark, idx).map { v =>
        LexIndex.search(spark,
          Array(idx, "apple", "--at", v.toString))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }.toSet
      import scala.jdk.CollectionConverters._
      val distinctSeen = observed.asScala.toSeq.distinct
      for (ans <- distinctSeen)
        assert(valid(ans),
          s"a live read served a non-committed state: $ans not in $valid")
    } finally {
      spark.conf.set("spark.graft.keepManifests", "1")
      spark.conf.unset("spark.graft.vacuumGraceMs")
    }
  }

  test("SUSTAINED-ingest compact storm: a compact retries through a " +
    "stream of concurrent ingest commits and LANDS (bounded " +
    "rebase-retry — no manual rerun), with the final index equal to " +
    "a fresh build over survivors + every ingested wave") {
    import spark.implicits._
    val in = corpusDir()
    val tmp = Files.createTempDirectory("lexidx_storm").toString
    val idx = s"$tmp/lex"
    // base: docs 0-1 with doc 1 tombstoned — the compact has a real
    // tombstone fold to do
    spark.read.parquet(in).filter(col("doc_id") < 2)
      .write.parquet(s"$tmp/base.parquet")
    LexIndex.build(spark, Array(s"$tmp/base.parquet", idx, "--gram", "1"))
    Seq(1L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    LexIndex.delete(spark, Array(idx, s"$tmp/del.parquet"))
    // the corpus's docs 2-3 plus a synthetic doc 4: three one-doc
    // waves so the ingester commits repeatedly through the compact
    val docs = spark.read.parquet(in)
      .unionByName(Seq((4L, "grape honeydew kiwi")).toDF("doc_id", "text"))
    try {
      // the documented multi-writer sizing rule (Artifacts object
      // doc): window >= writers + 1, so one writer's post-commit
      // vacuum can never evict a manifest (or the replace-style
      // segments only it references) the other command's in-flight
      // derivation resolved — without this the compact's stats read
      // can lose its segment mid-derivation
      spark.conf.set("spark.graft.keepManifests", "3")
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      // the ingest thread commits wave after wave for the compact's
      // whole derivation window — the sustained-write shape that
      // starved the round-14 conflict-surface-only behavior
      val ingester = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          (2L to 4L).map { d =>
            LexIndex.ingestFrame(spark, idx,
              docs.filter(col("doc_id") === d), "doc_id", "text")
          }.sum
        }
      })
      val compactor = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { gate.await(); LexIndex.compact(spark, Array(idx)) }
      })
      gate.countDown()
      assert(ingester.get() == 3L, "an ingest wave was lost")
      compactor.get() // must NOT throw: the retry absorbs the races
      pool.shutdown()
    } finally {
      spark.conf.set("spark.graft.keepManifests", "1")
      spark.conf.unset("spark.graft.vacuumGraceMs")
    }
    // end state == fresh build over exactly {0, 2, 3, 4}
    val ref = Files.createTempDirectory("lexidx_storm_ref").toString
    spark.read.parquet(in)
      .unionByName(Seq((4L, "grape honeydew kiwi")).toDF("doc_id", "text"))
      .filter(col("doc_id").isin(0L, 2L, 3L, 4L))
      .write.parquet(s"$ref/docs.parquet")
    LexIndex.build(spark, Array(s"$ref/docs.parquet", s"$ref/lex",
      "--gram", "1"))
    for (q <- Seq("apple banana", "cherry durian", "durian fig", "grape"))
      assert(searchPairs(idx, q) == searchPairs(s"$ref/lex", q),
        s"query '$q'")
    val fsckRows = LexIndex.fsck(spark, Array(idx)).collect()
    assert(fsckRows.forall(r => r.getLong(1) == r.getLong(2)),
      s"post-storm fsck: ${fsckRows.mkString(",")}")
  }

  test("COMPOSED storm: a reader pinned one version back serves " +
    "byte-identically while two writers ingest concurrently and " +
    "their post-commit vacuums run, with the window sized to " +
    "writers + 1 — the full concurrent-serving contract in one test") {
    import spark.implicits._
    val in = corpusDir()
    val tmp = Files.createTempDirectory("lexidx_composed").toString
    val idx = s"$tmp/lex"
    spark.read.parquet(in).filter(col("doc_id") < 2)
      .write.parquet(s"$tmp/base.parquet")
    LexIndex.build(spark, Array(s"$tmp/base.parquet", idx, "--gram", "1"))
    // the external reader resolves the CURRENT version once and pins
    // its postings segment list — the snapshot it must keep serving
    val pinnedVer = Artifacts.manifestVersions(spark, idx).max
    val pinnedSegs = Artifacts.snapshot(spark, idx, Some(pinnedVer)).segs("postings")
    def pinnedRead(): Seq[org.apache.spark.sql.Row] =
      Artifacts.readSegs(spark, idx, "postings", pinnedSegs)
        .orderBy(col("t"), col("id")).collect().toSeq
    val before = pinnedRead()
    val docs = spark.read.parquet(in)
    val waves = Seq(docs.filter(col("doc_id") === 2),
      docs.filter(col("doc_id") === 3))
    try {
      // writers + 1 = 3: through 2 commits the pinned version stays
      // inside the trailing window of every post-commit vacuum
      spark.conf.set("spark.graft.keepManifests", "3")
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val writersDone = new java.util.concurrent.atomic.AtomicInteger(0)
      val writerFuts = waves.map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            try LexIndex.ingestFrame(spark, idx, w, "doc_id", "text")
            finally { writersDone.incrementAndGet(); () }
          }
        })
      }
      // the pinned reader re-scans its FIXED segment list throughout
      // the storm: every scan must be byte-identical to the pre-storm
      // snapshot (ingest commits + vacuums are invisible to it)
      val mismatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val reader = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          gate.await()
          var n = 0
          while (writersDone.get() < 2 || n < 4) {
            if (pinnedRead() != before) mismatches.incrementAndGet()
            n += 1
          }
          n
        }
      })
      gate.countDown()
      writerFuts.foreach(_.get())
      val nReads = reader.get()
      pool.shutdown()
      assert(nReads >= 4, s"pinned reader only completed $nReads scans")
      assert(mismatches.get() == 0,
        s"${mismatches.get()} pinned scans drifted during the storm")
      // after the storm + vacuums: the pinned snapshot is STILL
      // byte-identical, its manifest is still retained, and the
      // current state serves all four docs
      assert(pinnedRead() == before)
      assert(Artifacts.manifestVersions(spark, idx).contains(pinnedVer))
      assert(Artifacts.currentVersion(spark, idx) == pinnedVer + 2)
      val ref = Files.createTempDirectory("lexidx_composed_ref").toString
      spark.read.parquet(in).filter(col("doc_id") < 4)
        .write.parquet(s"$ref/docs.parquet")
      LexIndex.build(spark, Array(s"$ref/docs.parquet", s"$ref/lex",
        "--gram", "1"))
      for (q <- Seq("apple banana", "cherry durian"))
        assert(searchPairs(idx, q) == searchPairs(s"$ref/lex", q),
          s"query '$q'")
    } finally {
      spark.conf.set("spark.graft.keepManifests", "1")
      spark.conf.unset("spark.graft.vacuumGraceMs")
    }
  }

  test("ingest racing a compact: the ingest ALWAYS lands (rebase), the " +
    "compact either completes or fails LOUDLY with " +
    "CommitConflictException (never a silent lost update), and the " +
    "index equals the expected corpus either way") {
    import spark.implicits._
    val in = corpusDir()
    val tmp = Files.createTempDirectory("lexidx_race").toString
    val idx = s"$tmp/lex"
    // base: docs 0-2 with doc 1 tombstoned, so compact has real work
    spark.read.parquet(in).filter(col("doc_id") < 3)
      .write.parquet(s"$tmp/base.parquet")
    LexIndex.build(spark, Array(s"$tmp/base.parquet", idx, "--gram", "1"))
    Seq(1L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    LexIndex.delete(spark, Array(idx, s"$tmp/del.parquet"))
    val wave = spark.read.parquet(in).filter(col("doc_id") === 3)
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val ingestF = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          gate.await()
          LexIndex.ingestFrame(spark, idx, wave, "doc_id", "text")
        }
      })
      val compactF = pool.submit(
        new java.util.concurrent.Callable[Option[Throwable]] {
          def call(): Option[Throwable] = {
            gate.await()
            try { LexIndex.compact(spark, Array(idx)); None }
            catch { case e: Throwable => Some(e) }
          }
        })
      gate.countDown()
      assert(ingestF.get() == 1L, "the racing ingest was lost")
      compactF.get() match {
        case None => () // compact won its slot or ran clear of the race
        case Some(e) =>
          // a structural command may NOT rebase: it must surface the
          // conflict (its pending rewrite was derived from a stale
          // base) — and a rerun on the settled state must succeed
          def conflict(t: Throwable): Boolean = t match {
            case _: Artifacts.CommitConflictException => true
            case null => false
            case t2 => conflict(t2.getCause)
          }
          assert(conflict(e), s"compact failed with a non-conflict: $e")
          LexIndex.compact(spark, Array(idx))
      }
      pool.shutdown()
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    // whatever interleaving happened: survivors 0,2 plus the ingested
    // doc 3 — byte-equal to a fresh build over exactly that corpus
    val ref = Files.createTempDirectory("lexidx_race_ref").toString
    spark.read.parquet(in).filter(col("doc_id").isin(0L, 2L, 3L))
      .write.parquet(s"$ref/docs.parquet")
    LexIndex.build(spark, Array(s"$ref/docs.parquet", s"$ref/lex",
      "--gram", "1"))
    for (q <- Seq("apple banana", "cherry durian", "durian fig"))
      assert(searchPairs(idx, q) == searchPairs(s"$ref/lex", q),
        s"query '$q'")
    // and the invariants hold
    val fsckRows = LexIndex.fsck(spark, Array(idx)).collect()
    assert(fsckRows.forall(r => r.getLong(1) == r.getLong(2)),
      s"post-race fsck: ${fsckRows.mkString(",")}")
  }

  test("compact crash-safety: a compact that fails before the manifest " +
    "flip leaves the prior index serving byte-identically, and a later " +
    "compact succeeds (stale staging vacuumed)") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_crash").toString
    LexIndex.build(spark, Array(in, s"$idx/lex", "--gram", "1"))
    val ids = Files.createTempDirectory("lexidx_crash_ids").toString
    Seq(1L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$ids/del.parquet")
    LexIndex.delete(spark, Array(s"$idx/lex", s"$ids/del.parquet"))
    val before = Seq("apple banana", "cherry durian", "apple")
      .map(q => q -> searchPairs(s"$idx/lex", q))
    val statsBefore = spark.read.parquet(s"$idx/lex/stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // the failpoint: every rewrite segment lands on disk, then the
    // command dies BEFORE the manifest commit
    intercept[RuntimeException] {
      LexIndex.compactImpl(spark, Array(s"$idx/lex"),
        crashBeforeCommit = true)
    }
    spark.catalog.refreshByPath(s"$idx/lex")
    // manifest readers (the serve path) still see the pre-compact
    // state, answers and stats byte-identical
    for ((q, want) <- before)
      assert(searchPairs(s"$idx/lex", q) == want, s"query '$q' after crash")
    assert(Artifacts.read(spark, s"$idx/lex", "stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == statsBefore)

    // a subsequent compact completes and vacuums the crash's orphans
    // (--vacuum-grace-ms 0: reclaim NOW; the default grace would
    // presume the fresh dirs belong to a live concurrent writer):
    // each artifact ends at exactly one manifest-listed segment and
    // no unreferenced seg dirs remain on disk
    LexIndex.compact(spark, Array(s"$idx/lex", "--vacuum-grace-ms", "0"))
    for (n <- Seq("postings", "doclens", "docids", "tombstones")) {
      val segs = Artifacts.snapshot(spark, s"$idx/lex").segs(n)
      assert(segs.size == 1, s"$n segments")
      val onDisk = new java.io.File(s"$idx/lex/$n").listFiles()
        .map(_.getName).filter(d => d.startsWith("seg=") ||
          d.startsWith(".seg-")).toSet
      assert(onDisk == segs.toSet, s"$n orphans: $onDisk vs $segs")
    }
    for ((q, want) <- before)
      assert(searchPairs(s"$idx/lex", q) == want, s"query '$q' post-compact")
  }

  test("incremental compact (--threshold): only tombstone-dense " +
    "segments rewrite; cold segments' files are untouched; answers " +
    "unchanged") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_inc_cmp").toString
    // segment 0: docs {0,1} (build); segment 1: docs {2,3} (update)
    val sub = Files.createTempDirectory("lexidx_inc_sub").toString
    spark.read.parquet(in).filter(col("doc_id") < 2)
      .write.mode("overwrite").parquet(s"$sub/part.parquet")
    LexIndex.build(spark, Array(s"$sub/part.parquet", s"$idx/lex",
      "--gram", "1"))
    LexIndex.update(spark, Array(s"$idx/lex", in))
    // delete doc 3 — ONLY the update segment is dirty
    val ids = Files.createTempDirectory("lexidx_inc_ids").toString
    Seq(3L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$ids/del.parquet")
    LexIndex.delete(spark, Array(s"$idx/lex", s"$ids/del.parquet"))
    val before = Seq("apple banana", "cherry durian", "durian fig")
      .map(q => q -> searchPairs(s"$idx/lex", q))

    def fileSet(name: String, seg: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$idx/lex/$name/$seg"))
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getPath + "@" + f.lastModified()).toSet
    }
    val coldSegs = Seq("postings", "doclens").map { n =>
      // the build segment holds docs {0,1} — no tombstone hits
      val seg = Artifacts.snapshot(spark, s"$idx/lex").segs(n).head
      (n, seg, fileSet(n, seg))
    }

    // 250 permille: the dirty update segment (1 of 2 docs dead in
    // doclens, 4 of 6 posting rows dead) crosses; the cold build
    // segment (0 dead) does not
    LexIndex.compact(spark, Array(s"$idx/lex", "--threshold", "250"))

    for ((n, seg, files) <- coldSegs) {
      assert(Artifacts.snapshot(spark, s"$idx/lex").segs(n).contains(seg),
        s"$n cold segment replaced")
      assert(fileSet(n, seg) == files, s"$n cold files modified")
    }
    // the dirty segments rewrote: doc 3's rows are physically gone
    assert(spark.read.parquet(s"$idx/lex/postings")
      .filter(col("id") === 3L).count() == 0)
    assert(spark.read.parquet(s"$idx/lex/doclens")
      .filter(col("id") === 3L).count() == 0)
    // answers unchanged; the retraction set survives for the cold rows
    for ((q, want) <- before)
      assert(searchPairs(s"$idx/lex", q) == want, s"query '$q'")
    assert(spark.read.parquet(s"$idx/lex/tombstones").count() == 1L)
  }

  test("batch search: one pass scores every query with semantics " +
    "identical to the single-query path") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_batch").toString
    LexIndex.build(spark, Array(in, s"$idx/lex", "--gram", "1"))
    val qs = Files.createTempDirectory("lexidx_batch_q").toString
    val queries = Seq(
      (0L, "apple banana"), (1L, "apple"), (2L, "cherry durian"),
      (3L, "kumquat"), (4L, "durian elderberry fig"))
    queries.toDF("query_id", "text")
      .write.mode("overwrite").parquet(s"$qs/q.parquet")
    val got = LexIndex.searchBatch(spark,
      Array(s"$idx/lex", s"$qs/q.parquet", "--k", "3"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val want = queries.flatMap { case (qid, text) =>
      LexIndex.search(spark, Array(s"$idx/lex", text, "--k", "3"))
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, i + 1L, r.getLong(0), r.getLong(1))
        }
    }
    assert(got == want, s"got=$got want=$want")
    // the single-term inline cap path (terms forced through the
    // broadcast-join form) must score identically
    val got2 = LexIndex.searchBatch(spark,
      Array(s"$idx/lex", s"$qs/q.parquet", "--k", "3",
        "--max-inline-terms", "2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got2 == got)
  }

  test("--filter restricts candidates only: stratum members keep " +
    "their UNFILTERED scores (df stays corpus-level), non-members " +
    "vanish; batch path agrees with single-query per query") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_filter").toString
    LexIndex.build(spark, Array(in, s"$idx/lex", "--gram", "1"))
    val unfiltered = LexIndex.search(spark,
      Array(s"$idx/lex", "apple banana cherry"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val filtered = LexIndex.search(spark,
      Array(s"$idx/lex", "apple banana cherry",
        "--filter", "id % 2 = 0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(filtered == unfiltered.filter(_._1 % 2 == 0),
      s"filtered=$filtered unfiltered=$unfiltered")
    // batch == single, filtered
    val qs = Files.createTempDirectory("lexidx_filter_q").toString
    val queries = Seq((0L, "apple banana cherry"), (1L, "durian fig"))
    queries.toDF("query_id", "text")
      .write.mode("overwrite").parquet(s"$qs/q.parquet")
    val got = LexIndex.searchBatch(spark,
      Array(s"$idx/lex", s"$qs/q.parquet", "--k", "3",
        "--filter", "id % 2 = 0"))
      .collect().map(_.toSeq).toSeq
    val want = queries.flatMap { case (qid, text) =>
      LexIndex.search(spark, Array(s"$idx/lex", text, "--k", "3",
        "--filter", "id % 2 = 0"))
        .collect().zipWithIndex.map { case (r, i) =>
          Seq[Any](qid, i + 1L) ++ r.toSeq
        }
    }
    assert(got == want, s"got=$got want=$want")
  }

  test("--keep-manifests through the CLI: a mutating command run with " +
    "a retention window keeps the previous snapshot's files; the " +
    "default window reclaims them") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_keep").toString + "/lex"
    try {
      LexIndex.build(spark, Array(in, idx, "--gram", "1"))
      val pinnedVer = Artifacts.manifestVersions(spark, idx).max
      val pinned = Artifacts.snapshot(spark, idx, Some(pinnedVer)).segs("postings")
      val before = Artifacts.readSegs(spark, idx, "postings", pinned)
        .orderBy(col("t"), col("id")).collect().toSeq
      Seq(1L).toDF("doc_id")
        .write.mode("overwrite").parquet(s"$idx/../del.parquet")
      // delete + FULL compact (rewrites postings) under window 2: the
      // pinned reader's segment files must survive both vacuums
      LexIndex.delete(spark, Array(idx, s"$idx/../del.parquet",
        "--keep-manifests", "2"))
      LexIndex.compact(spark, Array(idx, "--keep-manifests", "2"))
      assert(Artifacts.readSegs(spark, idx, "postings", pinned)
        .orderBy(col("t"), col("id")).collect().toSeq == before,
        "pinned reader lost its snapshot through CLI mutations")
      // drop back to the default window: the next mutation's vacuum
      // reclaims everything but the current snapshot
      LexIndex.compact(spark, Array(idx, "--keep-manifests", "1"))
      assert(Artifacts.manifestVersions(spark, idx).size == 1)
      intercept[Exception] {
        Artifacts.readSegs(spark, idx, "postings", pinned).collect()
      }
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("--at: time-travel search serves the pinned manifest exactly " +
    "(pre-delete answers through a post-delete index, batch == " +
    "single), and an unretained version fails fast") {
    import spark.implicits._
    val in = corpusDir()
    val base = Files.createTempDirectory("lexidx_tt").toString
    val idx = s"$base/lex"
    LexIndex.build(spark, Array(in, idx, "--gram", "1"))
    val vb = Artifacts.manifestVersions(spark, idx).max
    val before = searchPairs(idx, "apple banana")
    assert(before.map(_._1).contains(0L))
    Seq(0L, 2L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$base/del.parquet")
    try {
      LexIndex.delete(spark, Array(idx, s"$base/del.parquet",
        "--keep-manifests", "2"))
      // the current state answers differently (doc 0 tombstoned,
      // n/avgdl shrunk) — so the --at equality below is non-vacuous
      val now = searchPairs(idx, "apple banana")
      assert(!now.map(_._1).contains(0L) && now != before)
      // --at v_build: the pre-delete answer, bit for bit — the
      // tombstones artifact does not exist at that version and every
      // statistic reads pre-delete
      val at = LexIndex.search(spark, Array(idx, "apple banana",
        "--at", vb.toString))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(at == before, s"time-travel drifted: $at vs $before")
      // batch surface takes the same flag with the same semantics
      Seq((0L, "apple banana")).toDF("query_id", "text")
        .write.mode("overwrite").parquet(s"$base/q.parquet")
      val bat = LexIndex.searchBatch(spark, Array(idx,
        s"$base/q.parquet", "--at", vb.toString))
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("score")))
        .toSeq
      assert(bat == before, s"batch time-travel drifted: $bat")
      // a version outside the retained window refuses, fast
      intercept[IllegalArgumentException] {
        LexIndex.search(spark, Array(idx, "apple", "--at", "99"))
      }
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("a postings segment without dl is refused: BOTH search and " +
    "searchBatch raise an error that names dl") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_nodl").toString
    LexIndex.build(spark, Array(in, s"$idx/lex", "--gram", "1"))
    val qs = Files.createTempDirectory("lexidx_nodl_q").toString
    Seq((0L, "apple banana"), (1L, "cherry durian"))
      .toDF("query_id", "text")
      .write.mode("overwrite").parquet(s"$qs/q.parquet")
    // the same term-bucketed postings, with the denormalized dl stripped
    val noDl = Artifacts.read(spark, s"$idx/lex", "postings")
      .select(col("t"), col("id"), col("tf"))
    val seg = Artifacts.writeSegment(spark, s"$idx/lex", "postings", noDl,
      Some(Artifacts.Bucket("tb", pmod(hash(col("t")), lit(16L)), Seq("t"))))
    Artifacts.commit(spark, s"$idx/lex",
      (Artifacts.snapshot(spark, s"$idx/lex") ++ Map("postings" -> Seq(seg))).segments)
    spark.catalog.refreshByPath(s"$idx/lex")
    def namesDl(serve: => Any): Unit = {
      val e = intercept[Exception](serve)
      assert(e.getMessage.contains("`dl`"), e.getMessage)
    }
    namesDl(LexIndex.search(spark, Array(s"$idx/lex", "apple banana"))
      .collect())
    namesDl(LexIndex.searchBatch(spark,
      Array(s"$idx/lex", s"$qs/q.parquet", "--k", "3")).collect())
  }

  test("delete then update: stats stay consistent (toktot excludes the " +
    "tombstoned docs the moment update rewrites them)") {
    import spark.implicits._
    val in = corpusDir()
    val idx = Files.createTempDirectory("lexidx_du").toString
    // build on docs {0,1,2}, delete doc 1, then update with doc 3:
    // n = 3 and toktot must count docs {0,2,3} only
    val sub = Files.createTempDirectory("lexidx_du_sub").toString
    spark.read.parquet(in).filter(col("doc_id") < 3)
      .write.mode("overwrite").parquet(s"$sub/part.parquet")
    LexIndex.build(spark, Array(s"$sub/part.parquet", s"$idx/lex",
      "--gram", "1"))
    val ids = Files.createTempDirectory("lexidx_du_ids").toString
    Seq(1L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$ids/del.parquet")
    LexIndex.delete(spark, Array(s"$idx/lex", s"$ids/del.parquet"))
    LexIndex.update(spark, Array(s"$idx/lex", in))
    val st = spark.read.parquet(s"$idx/lex/stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // dl: doc0=2, doc2=2, doc3=4 -> toktot 8, n 3, avgdl 2
    assert(st("n") == 3L, s"n = ${st("n")}")
    assert(st("toktot") == 8L, s"toktot = ${st("toktot")}")
    assert(st("avgdl") == 2L)
    // and the search agrees with a fresh build over {0,2,3}
    val surv = Files.createTempDirectory("lexidx_du_surv").toString
    spark.read.parquet(in).filter(col("doc_id") =!= 1)
      .write.mode("overwrite").parquet(s"$surv/docs.parquet")
    val ref = Files.createTempDirectory("lexidx_du_ref").toString
    LexIndex.build(spark,
      Array(s"$surv/docs.parquet", s"$ref/lex", "--gram", "1"))
    for (q <- Seq("apple banana", "cherry durian"))
      assert(searchPairs(s"$idx/lex", q) == searchPairs(s"$ref/lex", q),
        s"query '$q'")
  }

  test("driver-side term buckets equal Spark's pmod(hash(t), buckets) " +
    "for every bucket count the build could persist (round 18: the " +
    "build/search bucket coupling is pinned, not assumed)") {
    import spark.implicits._
    // a vocabulary wide enough to hit every residue class, including
    // non-ASCII and gram-joined ("a b") terms the ngram tokenizer emits
    val vocab = (Seq("apple", "banana", "cherry durian", "Ünïcødé",
      "", " ", "the quick", "zz top") ++ (0 until 256).map(i => s"t$i"))
    for (buckets <- Seq(2L, 16L, 64L)) {
      val sparkSide = vocab.toDF("t")
        .select(col("t"),
          pmod(hash(col("t")), lit(buckets)).cast("long").as("tb"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      vocab.foreach { t =>
        assert(LexIndex.termBucketOf(t, buckets) == sparkSide(t),
          s"bucket diverged for '$t' at buckets=$buckets")
      }
    }
  }

  test("one manifest open per reader command: a lexical search, an " +
    "--at search and a searchBatch each resolve the manifest once on " +
    "an index with tombstones") {
    import spark.implicits._
    val in = corpusDir()
    val base = Files.createTempDirectory("lexidx_opens").toString
    val local = s"$base/lex"
    LexIndex.build(spark, Array(in, local, "--gram", "1"))
    val v0 = Artifacts.currentVersion(spark, local)
    Seq(2L).toDF("doc_id").write.mode("overwrite").parquet(s"$base/del.parquet")
    Seq((0L, "apple banana"), (1L, "cherry durian")).toDF("query_id", "text")
      .write.mode("overwrite").parquet(s"$base/q.parquet")
    try {
      LexIndex.delete(spark, Array(local, s"$base/del.parquet",
        "--keep-manifests", "2"))
      // the same files read through the counting mockhdfs scheme
      MockHdfsFileSystem.register(spark.sparkContext.hadoopConfiguration)
      val idx = s"mockhdfs://$local"
      def opens(body: => Any): Int =
        MockHdfsFileSystem.manifestOpensUnder(local)(body)
      def pairs(dir: String, flags: String*): Seq[(Long, Long)] =
        LexIndex.search(spark, (Seq(dir, "apple cherry") ++ flags).toArray)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      var got = Seq.empty[(Long, Long)]
      assert(opens { got = pairs(idx) } == 1)
      assert(got == pairs(local))
      assert(opens { got = pairs(idx, "--at", v0.toString) } == 1)
      assert(got == pairs(local, "--at", v0.toString))
      assert(opens {
        LexIndex.searchBatch(spark, Array(idx, s"$base/q.parquet")).collect()
      } == 1)
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("pinned and current searches share one session: two threads " +
    "meet at a barrier for 10 rounds, and every answer equals its " +
    "serial answer (--at beside an unpinned search, then two " +
    "different --at versions)") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors}
    import spark.implicits._
    val in = corpusDir()
    val base = Files.createTempDirectory("lexidx_conc").toString
    val idx = s"$base/lex"
    LexIndex.build(spark, Array(in, idx, "--gram", "1"))
    val v0 = Artifacts.currentVersion(spark, idx)
    Seq(0L).toDF("doc_id").write.mode("overwrite").parquet(s"$base/d0.parquet")
    Seq(1L).toDF("doc_id").write.mode("overwrite").parquet(s"$base/d1.parquet")
    try {
      LexIndex.delete(spark, Array(idx, s"$base/d0.parquet",
        "--keep-manifests", "3"))
      val v1 = Artifacts.currentVersion(spark, idx)
      LexIndex.delete(spark, Array(idx, s"$base/d1.parquet",
        "--keep-manifests", "3"))
      def answer(at: Option[Long]): Seq[(Long, Long)] =
        LexIndex.search(spark, (Seq(idx, "apple banana cherry") ++
          at.toSeq.flatMap(v => Seq("--at", v.toString))).toArray)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val serial = Seq(None, Some(v0), Some(v1)).map(at => at -> answer(at)).toMap
      // each version answers differently, so a read of the wrong
      // version cannot pass unnoticed
      assert(serial.values.toSet.size == 3, serial)
      def race(a: Option[Long], b: Option[Long]): Unit = {
        val barrier = new CyclicBarrier(2)
        val pool = Executors.newFixedThreadPool(2)
        try {
          val futs = Seq(a, b).map { at =>
            at -> pool.submit(new Callable[Seq[Seq[(Long, Long)]]] {
              def call(): Seq[Seq[(Long, Long)]] =
                (1 to 10).map { _ =>
                  barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
                  answer(at)
                }
            })
          }
          futs.foreach { case (at, f) =>
            f.get().zipWithIndex.foreach { case (got, round) =>
              assert(got == serial(at),
                s"round $round, --at $at: $got vs ${serial(at)}")
            }
          }
        } finally pool.shutdownNow() // a failed peer strands none at the barrier
      }
      race(Some(v0), None)
      race(Some(v0), Some(v1))
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }
}
