package perfbench

import java.util.concurrent.Executors

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.TextOps
import graft.tools.{Artifacts, IndexCorpus, LexIndex}

/** The index workload's inputs and steps: the generated jsonl files as
  * parquet, the lexical (`LexIndex`) and vector (`IndexCorpus`)
  * lifecycle steps, each in its layer's span, and the checks.
  */
final class Indexes(run: Run) {
  import run.{spark, tracer}

  private val in = run.section("index")
  private val dims = in("dims").toString.toInt
  private val inDir = s"${run.work}/in"

  private val docs = "doc_id long, text string"
  private val vecs = "vec_id long, embedding array<float>"
  /** Inputs every run reads, with their schemas. */
  val served: Seq[(String, String)] = Seq(
    "docs" -> docs, "docs_update" -> docs, "docs_delete" -> "doc_id long",
    "lex_batch" -> "query_id long, text string", "vec_batch" -> "vec_id long",
    "emb" -> vecs, "emb_update" -> vecs, "emb_live" -> vecs, "emb_delete" -> "vec_id long")
  /** Inputs only the traced run's lifecycle tail reads. */
  val tail: Seq[(String, String)] = Seq("emb_wave" -> vecs, "emb_live_wave" -> vecs)

  def path(name: String): String = s"$inDir/$name.parquet"

  /** jsonl -> parquet, one Spark job per input, side by side. */
  def prepare(inputs: Seq[(String, String)]): Unit = {
    val pool = Executors.newFixedThreadPool(run.cores)
    try inputs.map { case (name, schema) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.read.schema(schema).json(in(name).toString).coalesce(1)
          .write.mode("overwrite").parquet(path(name))
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** `--ivf-k` follows ServeProbe's scaled router (8 cells per 500
    * vectors); 8 PQ subspaces of 16 centroids, not the default 2x4
    * that RECALL.md measures at 0.8/10; `--sq8 true` adds the sq8
    * tier; the rest are the defaults.
    */
  private val vecBuild = Seq("--dims", dims.toString, "--ivf-k", "32",
    "--pq-m", "8", "--pq-k", "16", "--sq8", "true")

  /** The served state of both families: build -> update -> delete, so
    * each index carries appended segments and tombstones.
    */
  def buildServed(lex: String, vec: String): Unit = {
    tracer.span("build.lex")(
      LexIndex.build(spark, Array(path("docs"), lex)))
    tracer.span("maintain.update/lex")(
      LexIndex.update(spark, Array(lex, path("docs_update"))))
    tracer.span("maintain.delete/lex")(
      LexIndex.delete(spark, Array(lex, path("docs_delete"))))
    tracer.span("build.vec")(
      IndexCorpus.build(spark, Array(path("emb"), vec) ++ vecBuild))
    tracer.span("maintain.update/vec")(
      IndexCorpus.update(spark, Array(vec, path("emb_update"))))
    tracer.span("maintain.delete/vec")(
      IndexCorpus.delete(spark, Array(vec, path("emb_delete"))))
  }

  /** The kNN graph over the live vectors (the graph tier's artifact). */
  def buildGraph(vec: String): Unit = tracer.span("build.graph")(
    IndexCorpus.graph(spark, Array(vec, path("emb_live"))))

  /** The rest of the lifecycle on the served indexes: compact -> vacuum
    * on both families, then a new vector wave folded into the graph by
    * `graph --append`, and a last vacuum.
    */
  def maintain(lex: String, vec: String): Unit = {
    tracer.span("maintain.compact/lex")(LexIndex.compact(spark, Array(lex)))
    tracer.span("storage.vacuum/lex")(Artifacts.vacuum(spark, lex))
    tracer.span("maintain.compact/vec")(IndexCorpus.compact(spark, Array(vec)))
    tracer.span("storage.vacuum/vec")(Artifacts.vacuum(spark, vec))
    tracer.span("maintain.update/wave")(
      IndexCorpus.update(spark, Array(vec, path("emb_wave"))))
    tracer.span("maintain.graph_append")(
      IndexCorpus.graph(spark, Array(vec, path("emb_live_wave"), "--append", "true")))
    tracer.span("storage.vacuum/wave")(Artifacts.vacuum(spark, vec))
  }

  /** Storage figures of both indexes, noted on a `storage.audit`
    * span: commits, retained manifest versions, attempts lost to
    * commit contention, and live files and bytes on disk.
    */
  def audit(dirs: Seq[String]): Unit = tracer.span("storage.audit") {
    dirs.foreach { idx =>
      tracer.note("commits", Artifacts.currentVersion(spark, idx) + 1)
      tracer.note("manifest_versions", Artifacts.manifestVersions(spark, idx).size.toLong)
      tracer.note("attempts_lost", Artifacts.contentionReport(spark, idx).collect()
        .map(_.getAs[Long]("lost_attempts")).sum)
      val (bytes, files) = Run.du(idx)
      tracer.note("live_bytes", bytes)
      tracer.note("live_files", files)
    }
  }

  /** Every fsck invariant reads observed == expected. */
  def checkFsck(name: String, rows: Array[Row]): Unit = {
    val bad = rows.filter(r => r.getLong(1) != r.getLong(2))
      .map(r => s"${r.getString(0)}=${r.getLong(1)} (expected ${r.getLong(2)})")
    run.check(s"fsck.$name", bad.isEmpty, bad.mkString("; "))
  }

  /** The ids the index still serves equal the generator's survivors. */
  def checkLive(name: String, idx: String, artifact: String, truth: Set[Long]): Unit = {
    val all = Run.longs(Artifacts.read(spark, idx, artifact), "id")
    val dead =
      if (Artifacts.exists(spark, idx, "tombstones"))
        Run.longs(Artifacts.read(spark, idx, "tombstones"), "id")
      else Set.empty[Long]
    val live = all -- dead
    run.check(s"live_ids.$name", live == truth,
      s"${(live -- truth).size} unexpected, ${(truth -- live).size} missing")
  }

  def survivors(key: String): Set[Long] =
    run.plan("truth").asInstanceOf[Map[String, Any]](key)
      .asInstanceOf[Seq[Any]].map(_.toString.toLong).toSet

  /** Lexical `searchBatch` top-10 answers against a brute-force
    * `TextOps.bm25Scores` over the surviving documents. The batch
    * queries are the first six words of the lowest surviving ids, so
    * bm25Scores' corpus-query form (ids below nQueries, first five
    * bigrams) scores exactly the same term sets.
    */
  def checkLexical(batch: Seq[Row]): Unit = {
    val alive = survivors("doc_survivors")
    val docs = spark.read.parquet(path("docs")).unionByName(spark.read.parquet(path("docs_update")))
      .filter(col("doc_id").isin(alive.toSeq: _*))
    val qids = spark.read.parquet(path("lex_batch")).collect().map(_.getLong(0)).toSet
    val nQueries = (qids.max + 1).toInt
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id"))
    val expected = TextOps.bm25Scores(docs, "doc_id", "text", nQueries, 5, 2)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("qid"), col("id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    graft.Scratch.release()
    val got = batch.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("id"),
      r.getAs[Long]("score"))).toSet
    val diff = (expected -- got).take(3).map(t => s"missing $t") ++
      (got -- expected).take(3).map(t => s"unexpected $t")
    run.check("bm25_search_batch", expected == got && expected.nonEmpty,
      s"${expected.size} expected rows; " + diff.mkString("; "))
  }
}
