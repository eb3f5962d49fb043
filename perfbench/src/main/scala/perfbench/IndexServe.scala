package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.tools.{IndexCorpus, LexIndex}

/** `index_serve`: set-up builds a lexical and a vector index that
  * already carry appended segments and tombstones (build -> update ->
  * delete on both families), and counts that in `setup_s`. The timed
  * part is a closed loop with one client. One operation is one arm
  * cycle: a single `search` on each of the lexical, pq and sq8 arms,
  * taking each arm's next query of the seeded stream. The repo has no
  * recorded serve traffic to weight the arms by, so each arm counts
  * once per cycle and a change to any arm moves the cycle time by what
  * that arm costs. After the loop, rounds of one `searchBatch` call on
  * the lexical arm and one on the sq8 tier.
  *
  * Search flags are the tools' defaults (`--k 10`, `--nprobe 2`,
  * `--hops 2`) with two exceptions. The pq arm re-ranks its 50 best
  * ADC candidates exactly: RECALL.md's serving ladder treats the PQ
  * list as a candidate generator that needs the re-rank. The graph
  * tier searches with `--beam 16`, SCALING.md's graph probe setting
  * (the default beam 8 is below `--k 10`, which the tool refuses).
  * Build flags: see [[Indexes]].
  *
  * The traced run records the set-up's spans too and alternates
  * untraced and traced arm cycles. After serving it builds the kNN
  * graph, serves the graph tier, and runs the rest of the lifecycle
  * (compact, vacuum, a new vector wave folded in by `graph --append`),
  * so it also reports the build, maintain and storage layers. The graph
  * tier stays out of the end-to-end runs: its build and its searches
  * cost more than their time budget allows.
  *
  * Answers are recorded for the checks: recall against brute-force
  * cosine and the live-ids-only rule are checked by run.py; the lexical
  * batch is checked here against `TextOps.bm25Scores`. After the traced
  * run's lifecycle tail, both indexes are checked against `fsck` and
  * the generator's surviving ids.
  */
final class IndexServe(run: Run) {
  import run.{spark, tracer}

  private val ix = new Indexes(run)
  private val lex = s"${run.work}/serve/lex"
  private val vec = s"${run.work}/serve/vec"
  private val emb = ix.path("emb_live")
  private val arms = Seq("lex", "pq", "sq8")
  /** `searchBatch` runs on the lexical arm and one vector tier, in
    * this many timed rounds.
    */
  private val batchArms = Seq("lex", "sq8")
  private val batchRounds = 3
  /** Graph-tier searches in the traced run. */
  private val graphSearches = 6

  /** (arm, query) pairs of the seeded stream, graph-tier ones apart. */
  private val (stream, graphStream) = Main.mapper
    .readValue(Run.readText(run.section("index")("stream").toString),
      classOf[Seq[Map[String, Any]]])
    .map(m => m("arm").toString -> m("q").toString)
    .partition(_._1 != "graph")

  private val vecFlags = Map(
    "pq" -> Seq("--rerank", "50"),
    "sq8" -> Seq("--tier", "sq8"),
    "graph" -> Seq("--tier", "graph", "--beam", "16"))

  private def search(arm: String, q: String): DataFrame = arm match {
    case "lex" => LexIndex.search(spark, Array(lex, q))
    case _     => IndexCorpus.search(spark, Array(vec, emb, q) ++ vecFlags(arm))
  }

  private def searchBatch(arm: String): DataFrame = arm match {
    case "lex" =>
      LexIndex.searchBatch(spark, Array(lex, ix.path("lex_batch")))
    case _ =>
      IndexCorpus.searchBatch(spark, Array(vec, emb, ix.path("vec_batch")) ++ vecFlags(arm))
  }

  private val singles = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var lexBatch: Seq[Row] = Nil

  /** One single search; `record` keeps its answer for the checks. */
  private def single(arm: String, q: String, record: Boolean): Unit = {
    val t = System.nanoTime()
    val rows = tracer.span(s"serve.$arm") {
      val r = search(arm, q).collect()
      tracer.note("results", r.length)
      r
    }
    graft.Scratch.release()
    if (record)
      singles += Map("arm" -> arm, "q" -> q, "s" -> Run.secs(t),
        "ids" -> rows.map(_.getAs[Long]("id")).toSeq)
  }

  /** Cycle `i`, one operation: the next stream query of each arm. */
  private def cycle(i: Int, kind: String): Unit =
    run.attempt(kind)(arms.indices.foreach { k =>
      val (arm, q) = stream((i * arms.size + k) % stream.size)
      single(arm, q, record = kind == "op")
    })

  private def batch(arm: String, kind: String, round: Int = 0): Unit =
    run.attempt(kind)(tracer.span(s"serve.${if (arm == "lex") "lex" else "vec"}_batch") {
      searchBatch(arm).collect()
    }).foreach { case (rows, s) =>
      if (kind == "batch") {
        val qcol = if (arm == "lex") "query_id" else "probe_id"
        if (arm == "lex") lexBatch = rows.toSeq
        batches += Map("arm" -> arm, "s" -> s, "round" -> round,
          "queries" -> rows.map(_.getAs[Long](qcol)).distinct.length,
          "answers" -> rows.groupBy(_.getAs[Long](qcol)).map { case (p, rs) =>
            p.toString -> rs.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("id")).toSeq
          })
      }
    }

  def run(): Unit = {
    val t = System.nanoTime()
    ix.prepare(ix.served)
    run.out("prepare_s") = Run.secs(t)
    run.calibrate(1)
    val b = System.nanoTime()
    tracer.traced(ix.buildServed(lex, vec))
    graft.Scratch.release()
    run.out("index_build_s") = Run.secs(b)
    run.calibrate(1)
    val w = System.nanoTime()
    // untimed calls until the JIT settles (the first compiles the plans);
    // cycles last, so the first timed cycle follows a cycle
    batchArms.foreach(a => batch(a, "warmup"))
    (0 until 2).foreach(i => cycle(i, "warmup"))
    run.out("warmup_s") = Run.secs(w)

    // a traced run alternates untraced and traced cycles over the same
    // stream positions
    run.measure { i =>
      cycle(i, "op")
      if (tracer.enabled) tracer.traced(cycle(i, "op_traced"))
    }
    run.repeat(batchRounds)(r => tracer.traced(batchArms.foreach(a => batch(a, "batch", r))))
    ix.checkLexical(lexBatch)

    if (tracer.enabled) {
      ix.prepare(ix.tail)
      tracer.traced {
        ix.buildGraph(vec)
        graphStream.take(graphSearches).foreach { case (arm, q) =>
          run.attempt("graph")(single(arm, q, record = true))
        }
        ix.maintain(lex, vec)
        ix.audit(Seq(lex, vec))
      }
      ix.checkFsck("lex", LexIndex.fsck(spark, Array(lex)).collect())
      ix.checkFsck("vec", IndexCorpus.fsck(spark, Array(vec)).collect())
      ix.checkLive("lex", lex, "docids", ix.survivors("doc_survivors"))
      ix.checkLive("vec", vec, "assignments", ix.survivors("vec_survivors_after_wave"))
      graft.Scratch.release()
    }
    run.out("singles") = singles.toSeq
    run.out("batches") = batches.toSeq
  }
}
