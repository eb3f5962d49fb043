package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** FULL single-writer index lifecycle on an object-store scheme
  * (round-16 brief item: the round-15 mocks3 dress rehearsal covered
  * only export) — build -> incremental update -> delete -> compact ->
  * vacuum -> search run END TO END against [[MockS3FileSystem]]'s
  * S3-class semantics (rename replaces, no hard links) under the
  * declared single-writer opt-out, and every answer must equal the
  * same lifecycle on the local store. This is what exercises the
  * object-store failure surface the export test couldn't: segment
  * parquet writes + staging renames, `.segclaim` markers, tombstone
  * anti-joins reading back mock-store segments, compact's
  * delta-rebase commit, and the grace-age vacuum whose mtime checks
  * are only as good as the store's PUT-time mtimes (see the caveat in
  * [[Artifacts.vacuum]]'s scaladoc — mocks3 delegates to local
  * storage, so its mtimes are real PUT times, the semantics a sane
  * connector reports).
  */
class MockS3LifecycleSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "MockS3LifecycleSpec")

  private def mockRoot(): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.mocks3.impl",
      classOf[MockS3FileSystem].getName)
    s"mocks3://${Files.createTempDirectory("mocks3_life")}"
  }

  private def singleWriter[A](body: => A): A =
    try {
      spark.conf.set("spark.graft.allowNonAtomicCommit", "true")
      body
    } finally spark.conf.unset("spark.graft.allowNonAtomicCommit")

  test("lexical CLI lifecycle on mocks3: build -> update -> delete -> " +
    "compact -> vacuum -> search, answer-identical to the local store") {
    import spark.implicits._
    val d = Files.createTempDirectory("mocks3_lex_in").toString
    Seq(
      (0L, "apple banana"),
      (1L, "apple apple apple cherry"),
      (2L, "cherry durian"),
      (3L, "durian elderberry fig grape"),
      (4L, "banana cherry grape"),
      (5L, "apple grape grape"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/docs.parquet")
    spark.read.parquet(s"$d/docs.parquet").filter(col("doc_id") < 4)
      .write.mode("overwrite").parquet(s"$d/base.parquet")
    spark.read.parquet(s"$d/docs.parquet").filter(col("doc_id") >= 4)
      .write.mode("overwrite").parquet(s"$d/wave.parquet")
    Seq(1L).toDF("doc_id")
      .write.mode("overwrite").parquet(s"$d/del.parquet")

    def lifecycle(idx: String): Seq[(Long, Long)] = {
      LexIndex.build(spark, Array(s"$d/base.parquet", idx, "--gram", "1"))
      LexIndex.update(spark, Array(idx, s"$d/wave.parquet"))
      LexIndex.delete(spark, Array(idx, s"$d/del.parquet"))
      LexIndex.compact(spark, Array(idx))
      Artifacts.vacuum(spark, idx)
      LexIndex.search(spark, Array(idx, "apple grape", "--k", "10"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val local = lifecycle(
      Files.createTempDirectory("mocks3_lex_ref").toString + "/lex")
    val mock = singleWriter(lifecycle(s"${mockRoot()}/lex"))
    assert(mock == local,
      s"mocks3 lifecycle diverged: mock=$mock local=$local")
    assert(local.nonEmpty && !local.map(_._1).contains(1L),
      "the retracted doc survived the lifecycle")
    // and the SAME lifecycle under the cput claim class (conditional
    // create attested — the multi-writer-capable object-store mode,
    // no single-writer declaration): every command's commit goes
    // through the conditional-PUT claim instead of check+rename
    spark.sparkContext.hadoopConfiguration.setBoolean(
      "fs.mocks3.impl.disable.cache", true)
    spark.sparkContext.hadoopConfiguration.setBoolean(
      "fs.mocks3.conditional.enabled", true)
    try {
      spark.conf.set("spark.graft.conditionalCreate", "true")
      val cput = lifecycle(s"${mockRoot()}/lex")
      assert(cput == local,
        s"cput lifecycle diverged: cput=$cput local=$local")
    } finally {
      spark.conf.unset("spark.graft.conditionalCreate")
      spark.sparkContext.hadoopConfiguration.setBoolean(
        "fs.mocks3.conditional.enabled", false)
    }
  }

  test("vector CLI lifecycle on mocks3: build -> update -> delete -> " +
    "compact -> vacuum -> search, answer-identical to the local store") {
    val emb = "/root/testdata/sf0.001/embeddings.parquet"
    val d = Files.createTempDirectory("mocks3_vec_in").toString
    spark.read.parquet(emb).filter(pmod(col("vec_id"), lit(4)) =!= 0)
      .write.mode("overwrite").parquet(s"$d/base.parquet")
    spark.read.parquet(emb).filter(pmod(col("vec_id"), lit(4)) === 0)
      .write.mode("overwrite").parquet(s"$d/wave.parquet")
    spark.read.parquet(emb).filter(pmod(col("vec_id"), lit(8)) === 1)
      .select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$d/del.parquet")

    def lifecycle(idx: String): Seq[(Long, Long)] = {
      IndexCorpus.build(spark, Array(s"$d/base.parquet", idx,
        "--ivf-k", "4", "--pq-m", "2", "--pq-k", "4", "--iters", "1"))
      IndexCorpus.update(spark, Array(idx, s"$d/wave.parquet"))
      IndexCorpus.delete(spark, Array(idx, s"$d/del.parquet"))
      IndexCorpus.compact(spark, Array(idx))
      Artifacts.vacuum(spark, idx)
      IndexCorpus.search(spark, Array(idx, emb, "7",
        "--k", "5", "--nprobe", "2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val local = lifecycle(
      Files.createTempDirectory("mocks3_vec_ref").toString + "/idx")
    val mock = singleWriter(lifecycle(s"${mockRoot()}/idx"))
    assert(mock == local,
      s"mocks3 lifecycle diverged: mock=$mock local=$local")
    assert(local.nonEmpty)
    // the lifecycle left a healthy manifest-layout index on the mock
    // store: fsck-level physical integrity holds through S3-class
    // rename semantics
    singleWriter {
      val root = s"${mockRoot()}"
      val idx2 = s"$root/idx2"
      IndexCorpus.build(spark, Array(s"$d/base.parquet", idx2,
        "--ivf-k", "4", "--pq-m", "2", "--pq-k", "4", "--iters", "1"))
      val (listed, missing) = Artifacts.segmentCheck(spark, Artifacts.snapshot(spark, idx2))
      assert(listed > 0 && missing == 0L)
    }
  }
}
