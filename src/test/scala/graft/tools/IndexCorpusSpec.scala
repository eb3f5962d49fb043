package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Build/search e2e over persisted artifacts: the search answer must
  * be re-derivable from the parquet files alone (plain Scala below),
  * and a rebuild must be value-identical (the exact-integer
  * contract's whole point).
  */
class IndexCorpusSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "IndexCorpusSpec")
  private val emb = "/root/testdata/sf0.001/embeddings.parquet"

  test("index build + search: answer re-derivable from artifacts; rebuild identical") {
    val idx = Files.createTempDirectory("graft_index").toString
    val res = IndexCorpus.build(spark, Array(emb, idx)).toMap
    assert(res.keySet == Set("ivf_centroids", "assignments", "ivf_radii",
      "pq_codebooks", "pq_codes"))
    val nVec = res("assignments")
    assert(res("pq_codes") == nVec * 2) // long form: one row per subspace
    assert(res("ivf_centroids") == 8L * 64)  // ivf_k x dims
    assert(res("pq_codebooks") == 2L * 4 * 32) // m x k x sub

    val got = IndexCorpus.search(spark,
      Array(idx, emb, "7", "--k", "5", "--nprobe", "2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // independent re-derivation from the persisted files
    val cents = Artifacts.read(spark, idx, "ivf_centroids").collect()
      .groupBy(_.getLong(0)).map { case (j, rs) =>
        j -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val books = Artifacts.read(spark, idx, "pq_codebooks").collect()
      .groupBy(r => (r.getLong(0), r.getLong(1))).map { case (sj, rs) =>
        sj -> rs.sortBy(_.getLong(2)).map(_.getLong(3)) }
    val assign = Artifacts.read(spark, idx, "assignments").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val codes = Artifacts.read(spark, idx, "pq_codes").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val pv = {
      import org.apache.spark.sql.functions._
      spark.read.parquet(emb)
        .filter(col("vec_id") === 7 && size(col("embedding")) === 64)
        .select(graft.ops.SemDedup.microsVec(col("embedding")))
        .head().getSeq[Long](0).toArray
    }
    def l2(off: Int, c: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < c.length) { val x = pv(off + i) - c(i); d += x * x; i += 1 }
      d
    }
    val probed = cents.toSeq.map { case (j, c) => (l2(0, c), j) }
      .sorted.take(2).map(_._2).toSet
    val want = assign.toSeq
      .filter { case (id, cell) => probed(cell) && id != 7L }
      .map { case (id, _) =>
        val adc = (0 until 2).map { s =>
          l2(s * 32, books((s.toLong, codes(id)(s.toLong))))
        }.sum
        (adc, id)
      }.sorted.take(5).map { case (adc, id) => (id, adc) }
    assert(got == want, s"got=$got want=$want")

    // rebuild determinism: value-identical artifacts
    val idx2 = Files.createTempDirectory("graft_index2").toString
    IndexCorpus.build(spark, Array(emb, idx2))
    for (art <- Seq("ivf_centroids", "assignments", "pq_codebooks", "pq_codes")) {
      val a = Artifacts.read(spark, idx, art).collect().map(_.toSeq).toSet
      val b = Artifacts.read(spark, idx2, art).collect().map(_.toSeq).toSet
      assert(a == b, s"$art differs across rebuilds")
    }
  }

  test("update mode: new vectors ingest with frozen codebooks; duplicates rejected") {
    import org.apache.spark.sql.functions._
    val full = spark.read.parquet(emb).filter(size(col("embedding")) === 64)
    val tmp = Files.createTempDirectory("graft_index_upd").toString
    // index the first half, then ingest the rest incrementally
    full.filter(col("vec_id") < 250).write.parquet(s"$tmp/old.parquet")
    full.filter(col("vec_id") >= 250).write.parquet(s"$tmp/new.parquet")
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(s"$tmp/old.parquet", idx))
    val centsBefore = Artifacts.read(spark, idx, "ivf_centroids")
      .collect().map(_.toSeq).toSet
    val n = IndexCorpus.update(spark, Array(idx, s"$tmp/new.parquet")).head._2
    assert(n == full.filter(col("vec_id") >= 250).count())
    // codebooks/centroids untouched; assignments/codes cover everyone
    assert(Artifacts.read(spark, idx, "ivf_centroids")
      .collect().map(_.toSeq).toSet == centsBefore)
    assert(Artifacts.read(spark, idx, "assignments").count() == full.count())
    assert(Artifacts.read(spark, idx, "pq_codes").count() == full.count() * 2)
    // re-ingesting the same batch is a no-op (left-anti dedup)
    assert(IndexCorpus.update(spark, Array(idx, s"$tmp/new.parquet")).head._2 == 0L)
    // an ingested vector's cell must be its true nearest frozen
    // centroid (spot-check one id against driver math)
    val cents = Artifacts.read(spark, idx, "ivf_centroids").collect()
      .groupBy(_.getLong(0)).map { case (j, rs) =>
        j -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val mv = full.filter(col("vec_id") === 300)
      .select(graft.ops.SemDedup.microsVec(col("embedding")))
      .head().getSeq[Long](0).toArray
    val want = cents.toSeq.map { case (j, c) =>
      var d = 0L; var i = 0
      while (i < 64) { val x = mv(i) - c(i); d += x * x; i += 1 }
      (d, j)
    }.min._2
    val got = Artifacts.read(spark, idx, "assignments")
      .filter(col("id") === 300).head().getLong(1)
    assert(got == want)
  }

  test("history + export: per-version membership matches the " +
    "lifecycle; a pre-delete export is a STANDALONE index serving " +
    "the pre-delete answers") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_hist").toString
    val idx = s"$tmp/idx"
    def ids(i: String, extra: String*): Seq[(Long, Long)] =
      IndexCorpus.search(spark, Array(i, emb, "7", "--k", "5",
        "--nprobe", "2") ++ extra)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    try {
      spark.conf.set("spark.graft.keepManifests", "3")
      IndexCorpus.build(spark, Array(emb, idx))
      val n = Artifacts.read(spark, idx, "assignments").count()
      val preDelete = ids(idx)
      Seq(preDelete.head._1).toDF("vec_id")
        .write.mode("overwrite").parquet(s"$tmp/del.parquet")
      IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
      val hist = IndexCorpus.history(spark, Array(idx)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      // v0: no tombstones; v1: one tombstone, assignments keep the
      // dead row until compact, live drops by one
      assert(hist == Seq((0L, n, 0L, n), (1L, n, 1L, n - 1L)),
        s"history was $hist")

      val exp = s"$tmp/exp_v0"
      IndexCorpus.export(spark, Array(idx, exp, "--at", "0"))
      assert(ids(exp) == preDelete, "pre-delete export diverged")
      assert(Artifacts.manifestVersions(spark, exp) == Seq(0L))
      // current export carries the tombstone: same post-delete answer
      val exp2 = s"$tmp/exp_cur"
      IndexCorpus.export(spark, Array(idx, exp2))
      assert(ids(exp2) == ids(idx), "current export diverged")

      // the GRAPH tier exports too: build the kNN graph (gb-bucketed,
      // ver-versioned adjacency + unbucketed graph_meta), export, and
      // the exported graph walk must answer exactly like the source's
      IndexCorpus.graph(spark, Array(idx, emb, "--deg", "3",
        "--planes", "12", "--bands", "2"))
      val exp3 = s"$tmp/exp_graph"
      IndexCorpus.export(spark, Array(idx, exp3))
      val gArgs = Seq("--tier", "graph", "--beam", "6", "--hops", "2")
      assert(ids(exp3, gArgs: _*) == ids(idx, gArgs: _*),
        "graph-tier export diverged")
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("fsck: a healthy lifecycle is all-zeros; a duplicate " +
    "assignment, an orphaned code, and a lost segment are detected") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_fsck").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx))
    Seq(3L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
    def fsckMap() = IndexCorpus.fsck(spark, Array(idx)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val healthy = fsckMap()
    assert(healthy.size == 6) // incl. contention_strands (round 17)
    assert(healthy.values.forall { case (o, e) => o == e && o == 0L },
      s"healthy index failed fsck: $healthy")

    // corruption: append a DUPLICATE assignment for id 5 in a wrong
    // cell (also a cell mismatch for its codes), an assignment for an
    // id that has NO codes (incomplete), and a code row for a
    // never-assigned id (orphan). Segments must match the artifact's
    // bucketed layout (uniform partition depth).
    val cb = Some(Artifacts.Bucket("cb",
      pmod(col("cell"), lit(64L)), Seq("cell")))
    val dupSeg = Artifacts.writeSegment(spark, idx, "assignments",
      Seq((5L, 3L), (888888L, 0L)).toDF("id", "cell"), cb)
    val orphSeg = Artifacts.writeSegment(spark, idx, "pq_codes",
      Seq((999999L, 0L, 1L, 2L)).toDF("id", "s", "code", "cell"), cb)
    val cur = Artifacts.snapshot(spark, idx)
    Artifacts.commit(spark, idx, (cur ++ Map(
      "assignments" -> (cur.segs("assignments") :+ dupSeg),
      "pq_codes" -> (cur.segs("pq_codes") :+ orphSeg))).segments)
    spark.catalog.refreshByPath(idx)
    val broken = fsckMap()
    assert(broken("assignment_dupes")._1 >= 1L, s"$broken")
    assert(broken("codes_orphans")._1 >= 1L, s"$broken")
    assert(broken("codes_cell_mismatch")._1 >= 1L, s"$broken")
    assert(broken("codes_incomplete")._1 >= 1L, s"$broken")
  }

  test("CONCURRENT ingest: two writers ingesting disjoint vector " +
    "batches serialize via CAS rebase — artifacts and answers equal " +
    "the sequential ingest") {
    import org.apache.spark.sql.functions._
    val full = spark.read.parquet(emb).filter(size(col("embedding")) === 64)
    val tmp = Files.createTempDirectory("graft_index_conc").toString
    full.filter(col("vec_id") < 250).write.parquet(s"$tmp/old.parquet")
    val idx = s"$tmp/idx"
    val ref = s"$tmp/ref"
    IndexCorpus.build(spark, Array(s"$tmp/old.parquet", idx))
    IndexCorpus.build(spark, Array(s"$tmp/old.parquet", ref))
    val waveA = full.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 0)
    val waveB = full.filter(col("vec_id") >= 250 && col("vec_id") % 2 === 1)
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futs = Seq(waveA, waveB).map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            gate.await()
            IndexCorpus.ingestFrame(spark, idx, w, "vec_id", "embedding")
          }
        })
      }
      gate.countDown()
      assert(futs.map(_.get()).sum ==
        full.filter(col("vec_id") >= 250).count())
      pool.shutdown()
      // both ingests committed on top of the build
      assert(Artifacts.currentVersion(spark, idx) == 2L)
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    // sequential reference: same waves, one writer
    assert(IndexCorpus.ingestFrame(spark, ref, waveA, "vec_id",
      "embedding") == waveA.count())
    assert(IndexCorpus.ingestFrame(spark, ref, waveB, "vec_id",
      "embedding") == waveB.count())
    // artifact VALUES identical (segment layout may differ)
    for (a <- Seq("assignments", "pq_codes"))
      assert(Artifacts.read(spark, idx, a).drop("cb").collect().map(_.toSeq)
        .toSet == Artifacts.read(spark, ref, a).drop("cb").collect()
        .map(_.toSeq).toSet, s"artifact $a diverged")
    // and a served answer is identical
    def ids(i: String) = IndexCorpus.search(spark,
      Array(i, emb, "300", "--k", "5", "--nprobe", "2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ids(idx) == ids(ref))
  }

  test("residual mode: codes quantize (vector - cell centroid); search honors it") {
    import org.apache.spark.sql.functions._
    val idx = Files.createTempDirectory("graft_index_res").toString
    IndexCorpus.build(spark, Array(emb, idx, "--residual", "true"))
    val got = IndexCorpus.search(spark,
      Array(idx, emb, "7", "--k", "5", "--nprobe", "2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    val cents = Artifacts.read(spark, idx, "ivf_centroids").collect()
      .groupBy(_.getLong(0)).map { case (j, rs) =>
        j -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val books = Artifacts.read(spark, idx, "pq_codebooks").collect()
      .groupBy(r => (r.getLong(0), r.getLong(1))).map { case (sj, rs) =>
        sj -> rs.sortBy(_.getLong(2)).map(_.getLong(3)) }
    val assign = Artifacts.read(spark, idx, "assignments").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val codes = Artifacts.read(spark, idx, "pq_codes").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    val pv = spark.read.parquet(emb)
      .filter(col("vec_id") === 7 && size(col("embedding")) === 64)
      .select(graft.ops.SemDedup.microsVec(col("embedding")))
      .head().getSeq[Long](0).toArray
    def l2(a: Array[Long], off: Int, c: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < c.length) { val x = a(off + i) - c(i); d += x * x; i += 1 }
      d
    }
    val probed = cents.toSeq.map { case (j, c) => (l2(pv, 0, c), j) }
      .sorted.take(2).map(_._2).toSet
    val want = assign.toSeq
      .filter { case (id, cell) => probed(cell) && id != 7L }
      .map { case (id, cell) =>
        val cc = cents(cell)
        val pr = Array.tabulate(64)(i => pv(i) - cc(i))
        val adc = (0 until 2).map { s =>
          l2(pr, s * 32, books((s.toLong, codes(id)(s.toLong))))
        }.sum
        (adc, id)
      }.sorted.take(5).map { case (adc, id) => (id, adc) }
    assert(got == want, s"got=$got want=$want")

    // the codes themselves must differ from the global-PQ build for
    // at least some vectors (the residual actually changed the input)
    val idxG = Files.createTempDirectory("graft_index_g").toString
    IndexCorpus.build(spark, Array(emb, idxG))
    val cg = Artifacts.read(spark, idxG, "pq_codes").collect().map(_.toSeq).toSet
    val cr = Artifacts.read(spark, idx, "pq_codes").collect().map(_.toSeq).toSet
    assert(cg != cr, "residual build produced identical codes to global")
  }

  test("--filter pre-filters inside the probed cells; --rerank " +
    "re-ranks the ADC shortlist by exact cosine") {
    import org.apache.spark.sql.functions._
    val idx = Files.createTempDirectory("graft_index_f").toString
    IndexCorpus.build(spark, Array(emb, idx))
    // stratum search: every hit satisfies the predicate, and the
    // answer equals the unfiltered ADC ranking restricted to the
    // stratum (pre-filter never loses a probed-cell stratum member)
    val filtered = IndexCorpus.search(spark, Array(idx, emb, "7",
      "--k", "5", "--nprobe", "2", "--filter", "id % 10 = 0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(filtered.nonEmpty && filtered.forall(_._1 % 10 == 0))
    val wide = IndexCorpus.search(spark, Array(idx, emb, "7",
      "--k", "500", "--nprobe", "2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wantF = wide.filter(_._1 % 10 == 0)
      .sortBy { case (id, adc) => (adc, id) }.take(5)
    assert(filtered == wantF, s"got=$filtered want=$wantF")
    // rerank: output ordered by exact cosine over the 50 ADC-best —
    // re-derive with driver math from the shortlist + float source
    val reranked = IndexCorpus.search(spark, Array(idx, emb, "7",
      "--k", "5", "--nprobe", "2", "--rerank", "50"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val shortlist = wide.sortBy { case (id, adc) => (adc, id) }
      .take(50).map(_._1).toSet
    val vecs = spark.read.parquet(emb)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cosTo(pid: Long, id: Long): Long = {
      val a = vecs(pid); val b = vecs(id)
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val c = BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      (c * 1000000).toLongExact
    }
    val wantR = shortlist.toSeq.map(id => (id, cosTo(7L, id)))
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(reranked == wantR, s"got=$reranked want=$wantR")
  }

  test("--sq8 tier: codes in [0,255], reconstruction == the fused " +
    "round trip, search answer re-derivable from the artifacts") {
    import org.apache.spark.sql.functions._
    val idx = Files.createTempDirectory("graft_index_sq8").toString
    val res = IndexCorpus.build(spark,
      Array(emb, idx, "--ivf-k", "4", "--sq8", "true")).toMap
    assert(res.contains("sq8_ranges") && res("sq8_ranges") == 64L)
    assert(res("sq8_codes") == res("assignments")) // one row per vector

    val ranges = Artifacts.read(spark, idx, "sq8_ranges").collect()
      .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    assert(ranges.values.forall(_._2 >= 0))
    // artifact codes are PACKED bytes: one per dimension, unsigned
    // semantics restored via & 0xFF
    val codeRows = Artifacts.read(spark, idx, "sq8_codes").collect()
      .map(r => r.getLong(0) ->
        r.getAs[Array[Byte]](1).map(b => (b & 0xFF).toLong).toSeq).toMap
    assert(codeRows.values.forall(_.forall(c => c >= 0 && c <= 255)))
    assert(codeRows.values.forall(_.length == 64)) // 64 B per vector

    // reconstruction from persisted codes == the in-memory fused
    // round trip of the original micros (the artifact loses nothing
    // the round trip wouldn't)
    val micros = spark.read.parquet(emb)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"),
        graft.ops.SemDedup.microsVec(col("embedding")).as("mv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def recon(id: Long): Seq[Long] = codeRows(id).zipWithIndex.map {
      case (c, i) => val (lo, wd) = ranges(i); lo + c * wd / 255
    }
    def roundTrip(id: Long): Seq[Long] = micros(id).zipWithIndex.map {
      case (m, i) =>
        val (lo, wd) = ranges(i)
        if (wd > 0) lo + ((m - lo) * 255 / wd) * wd / 255 else lo
    }
    micros.keys.take(20).foreach { id =>
      assert(recon(id) == roundTrip(id), s"id=$id")
    }

    // search --tier sq8 == hand ADC over probed-cell members
    val got = IndexCorpus.search(spark,
      Array(idx, emb, "7", "--k", "5", "--nprobe", "2", "--tier", "sq8"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cents = Artifacts.read(spark, idx, "ivf_centroids").collect()
      .groupBy(_.getLong(0)).map { case (j, rs) =>
        j -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val pv = micros(7L)
    def l2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val probed = cents.toSeq.map { case (j, c) => (l2(pv, c.toSeq), j) }
      .sorted.take(2).map(_._2).toSet
    val assign = Artifacts.read(spark, idx, "assignments").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = assign.collect {
      case (id, cell) if probed(cell) && id != 7L => (id, l2(pv, recon(id)))
    }.toSeq.sortBy { case (id, d) => (d, id) }.take(5)
    assert(got == want, s"got=$got want=$want")
  }

  test("--tier exact: answer equals brute-force squared-L2 top-k by " +
    "construction, including after update (radii grow) and delete") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val full = spark.read.parquet(emb).filter(size(col("embedding")) === 64)
    val tmp = Files.createTempDirectory("graft_index_exact").toString
    val idx = s"$tmp/idx"
    // build on a half, update the rest: the exact guarantee must hold
    // with radii stitched from the build pass PLUS the appended
    // per-ingest maxes (an updated vector can exceed its cell radius)
    full.filter(col("vec_id") < 250).write.parquet(s"$tmp/old.parquet")
    full.filter(col("vec_id") >= 250).write.parquet(s"$tmp/new.parquet")
    IndexCorpus.build(spark, Array(s"$tmp/old.parquet", idx,
      "--ivf-k", "4"))
    IndexCorpus.update(spark, Array(idx, s"$tmp/new.parquet"))

    val micros = full
      .select(col("vec_id"), graft.ops.SemDedup.microsVec(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val pv = micros(7L)
    def d2(x: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < 64) { val y = x(i) - pv(i); d += y * y; i += 1 }
      d
    }
    def brute(excluded: Set[Long]): Seq[(Long, Long)] =
      micros.toSeq.collect {
        case (id, v) if id != 7L && !excluded(id) => (id, d2(v))
      }.sortBy { case (id, d) => (d, id) }.take(10)
    def exact(): Seq[(Long, Long)] =
      IndexCorpus.search(spark, Array(idx, emb, "7", "--k", "10",
        "--nprobe", "2", "--tier", "exact"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    assert(exact() == brute(Set.empty))

    // retraction honored by the exact tier too
    val victim = brute(Set.empty).head._1
    Seq(victim).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
    assert(exact() == brute(Set(victim)))
    // compact folds the radii fragments without breaking the bound
    IndexCorpus.compact(spark, Array(idx))
    assert(Artifacts.read(spark, idx, "ivf_radii").count() ==
      Artifacts.read(spark, idx, "ivf_radii").select("cell").distinct().count())
    assert(exact() == brute(Set(victim)))
  }

  test("delete + compact lifecycle: tombstoned ids vanish from search " +
    "(== unfiltered ranking restricted to survivors), compact removes " +
    "dead rows and merges fragments without forgetting the retraction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_del").toString
    val idx = s"$tmp/idx"
    // build on a half, update the rest — the membership artifacts
    // carry append fragments for compact to merge
    val full = spark.read.parquet(emb).filter(size(col("embedding")) === 64)
    full.filter(col("vec_id") < 250).write.parquet(s"$tmp/old.parquet")
    full.filter(col("vec_id") >= 250).write.parquet(s"$tmp/new.parquet")
    IndexCorpus.build(spark,
      Array(s"$tmp/old.parquet", idx, "--sq8", "true"))
    IndexCorpus.update(spark, Array(idx, s"$tmp/new.parquet"))

    def fragments(name: String): Int =
      Artifacts.snapshot(spark, idx).segs(name).size
    assert(fragments("assignments") > 1, "update should append a segment")
    // the SQ8 tier ingests on update too (frozen ranges): every
    // vector has a code row, and codes quantize the raw micros with
    // the HALF-corpus-frozen ranges — an updated vector is as
    // searchable under --tier sq8 as a built one
    assert(Artifacts.read(spark, idx, "sq8_codes").count() == full.count())

    def searchIds(k: Int, tier: String = "pq"): Seq[(Long, Long)] =
      IndexCorpus.search(spark,
        Array(idx, emb, "7", "--k", k.toString, "--nprobe", "2",
          "--tier", tier))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // sq8 search must surface UPDATED vectors (ids >= 250): the old
    // ingest path skipped the sq8 append, silently hiding them
    val sq8Wide = searchIds(500, tier = "sq8")
    assert(sq8Wide.exists(_._1 >= 250),
      "sq8 tier lost the updated vectors")
    val wide = searchIds(500)
    // retract the unfiltered top hit plus an id the index never saw
    val victim = wide.head._1
    Seq(victim, 999999L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    val nDel = IndexCorpus.delete(spark,
      Array(idx, s"$tmp/del.parquet")).toMap.apply("deleted")
    assert(nDel == 1L)

    // post-delete == unfiltered ranking restricted to the survivors
    // — the frozen model never retrains, only membership changes
    val want = wide.filter(_._1 != victim).take(5)
    assert(searchIds(5) == want)
    // double-delete is a no-op
    assert(IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
      .toMap.apply("deleted") == 0L)

    // compact: answers unchanged (both tiers), dead rows gone,
    // fragments merged, model artifacts untouched, tombstones kept
    val sq8Before = searchIds(5, tier = "sq8")
    val centsBefore = Artifacts.read(spark, idx, "ivf_centroids")
      .collect().map(_.toSeq).toSet
    IndexCorpus.compact(spark, Array(idx))
    assert(searchIds(5) == want)
    assert(searchIds(5, tier = "sq8") == sq8Before)
    for (n <- Seq("assignments", "pq_codes", "sq8_codes")) {
      assert(fragments(n) == 1, s"$n segments")
      assert(Artifacts.read(spark, idx, n)
        .filter(col("id") === victim).count() == 0, s"$n dead rows")
    }
    assert(Artifacts.read(spark, idx, "ivf_centroids")
      .collect().map(_.toSeq).toSet == centsBefore)
    assert(Artifacts.read(spark, idx, "tombstones").count() == 1L)

    // resurrection rule: re-feeding the retracted id after compact is
    // rejected permanently
    full.filter(col("vec_id") === victim)
      .write.mode("overwrite").parquet(s"$tmp/back.parquet")
    assert(IndexCorpus.update(spark, Array(idx, s"$tmp/back.parquet"))
      .head._2 == 0L)
    assert(searchIds(5) == want, "update must not resurface the victim")
  }

  test("compact crash-safety: a compact that fails before the manifest " +
    "flip leaves the prior index serving byte-identically; a later " +
    "compact succeeds and vacuums the orphans") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_crash").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx, "--sq8", "true"))
    Seq(7L + 1, 7L + 2).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
    def searchIds(tier: String): Seq[(Long, Long)] =
      IndexCorpus.search(spark,
        Array(idx, emb, "7", "--k", "5", "--nprobe", "2", "--tier", tier))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = Seq("pq", "sq8").map(t => t -> searchIds(t))

    intercept[RuntimeException] {
      IndexCorpus.compactImpl(spark, Array(idx), crashBeforeCommit = true)
    }
    spark.catalog.refreshByPath(idx)
    for ((t, want) <- before)
      assert(searchIds(t) == want, s"tier $t after crash")

    // --vacuum-grace-ms 0: reclaim the crash's orphans NOW (default
    // grace presumes fresh uncommitted dirs are a live concurrent
    // writer's — ArtifactsSpec pins that side)
    IndexCorpus.compact(spark, Array(idx, "--vacuum-grace-ms", "0"))
    for (n <- Seq("assignments", "pq_codes", "sq8_codes")) {
      val segs = Artifacts.snapshot(spark, idx).segs(n)
      assert(segs.size == 1, s"$n segments")
      val onDisk = new java.io.File(s"$idx/$n").listFiles()
        .map(_.getName).filter(d => d.startsWith("seg=") ||
          d.startsWith(".seg-")).toSet
      assert(onDisk == segs.toSet, s"$n orphans: $onDisk vs $segs")
    }
    for ((t, want) <- before)
      assert(searchIds(t) == want, s"tier $t post-compact")
  }

  test("incremental compact (--threshold): only tombstone-dense " +
    "segments rewrite; cold segments' files untouched; answers " +
    "unchanged") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_inccmp").toString
    val idx = s"$tmp/idx"
    val full = spark.read.parquet(emb).filter(size(col("embedding")) === 64)
    // segment 0: build on ids < 250; segment 1: update with the rest
    full.filter(col("vec_id") < 250).write.parquet(s"$tmp/old.parquet")
    full.filter(col("vec_id") >= 250).write.parquet(s"$tmp/new.parquet")
    IndexCorpus.build(spark, Array(s"$tmp/old.parquet", idx))
    IndexCorpus.update(spark, Array(idx, s"$tmp/new.parquet"))
    // the delete wave hits ONLY the update batch -> only its segment
    // is tombstone-dense
    full.filter(col("vec_id") >= 250 && pmod(col("vec_id"), lit(3)) === 0)
      .select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
    def searchIds(): Seq[(Long, Long)] =
      IndexCorpus.search(spark,
        Array(idx, emb, "7", "--k", "10", "--nprobe", "2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = searchIds()

    def fileSet(name: String, seg: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$idx/$name/$seg"))
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getPath + "@" + f.lastModified()).toSet
    }
    val cold = Seq("assignments", "pq_codes").map { n =>
      val seg = Artifacts.snapshot(spark, idx).segs(n).head // the build seg
      (n, seg, fileSet(n, seg))
    }

    // ~1/3 of the update segment is dead -> 100 permille threshold
    // rewrites it; the build segment has zero dead rows
    IndexCorpus.compact(spark, Array(idx, "--threshold", "100"))

    for ((n, seg, files) <- cold) {
      assert(Artifacts.snapshot(spark, idx).segs(n).contains(seg),
        s"$n cold segment replaced")
      assert(fileSet(n, seg) == files, s"$n cold files modified")
    }
    assert(Artifacts.read(spark, idx, "assignments")
      .filter(col("id") >= 250 && pmod(col("id"), lit(3)) === 0)
      .count() == 0, "dirty segment kept dead rows")
    assert(searchIds() == before, "incremental compact changed answers")
  }

  test("batch search: per-probe results identical to the single-probe " +
    "path across pq, sq8, and residual tiers") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_batch").toString
    Seq(0L, 1L, 7L, 12L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/probes.parquet")
    def check(idx: String, tier: String): Unit = {
      val got = IndexCorpus.searchBatch(spark, Array(idx, emb,
        s"$tmp/probes.parquet", "--k", "5", "--nprobe", "2",
        "--tier", tier))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val want = Seq(0L, 1L, 7L, 12L).flatMap { pid =>
        IndexCorpus.search(spark, Array(idx, emb, pid.toString,
          "--k", "5", "--nprobe", "2", "--tier", tier))
          .collect().zipWithIndex.map { case (r, i) =>
            (pid, i + 1L, r.getLong(0), r.getLong(1))
          }
      }
      assert(got == want, s"tier=$tier got=$got want=$want")
    }
    val idxS = s"$tmp/idxS"
    IndexCorpus.build(spark, Array(emb, idxS, "--sq8", "true"))
    check(idxS, "pq")
    check(idxS, "sq8")
    val idxR = s"$tmp/idxR"
    IndexCorpus.build(spark, Array(emb, idxR, "--residual", "true"))
    check(idxR, "pq")

    // --filter and --rerank parity with the single-probe path
    val gotF = IndexCorpus.searchBatch(spark, Array(idxS, emb,
      s"$tmp/probes.parquet", "--k", "5", "--nprobe", "2",
      "--filter", "id % 10 = 0"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val wantF = Seq(0L, 1L, 7L, 12L).flatMap { pid =>
      IndexCorpus.search(spark, Array(idxS, emb, pid.toString,
        "--k", "5", "--nprobe", "2", "--filter", "id % 10 = 0"))
        .collect().zipWithIndex.map { case (r, i) =>
          (pid, i + 1L, r.getLong(0), r.getLong(1))
        }
    }
    assert(gotF == wantF, s"filter: got=$gotF want=$wantF")
    val gotR = IndexCorpus.searchBatch(spark, Array(idxS, emb,
      s"$tmp/probes.parquet", "--k", "5", "--nprobe", "2",
      "--rerank", "50"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val wantR = Seq(0L, 1L, 7L, 12L).flatMap { pid =>
      IndexCorpus.search(spark, Array(idxS, emb, pid.toString,
        "--k", "5", "--nprobe", "2", "--rerank", "50"))
        .collect().zipWithIndex.map { case (r, i) =>
          (pid, i + 1L, r.getLong(0), r.getLong(1), r.getLong(2))
        }
    }
    assert(gotR == wantR, s"rerank: got=$gotR want=$wantR")
  }

  test("--at: time-travel search serves the pinned manifest exactly " +
    "across tiers (pre-delete answers through a post-delete index, " +
    "batch == single); unretained versions fail fast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_tt").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx, "--sq8", "true"))
    val vb = Artifacts.manifestVersions(spark, idx).max
    def single(tier: String, extra: Seq[String] = Seq.empty) =
      IndexCorpus.search(spark, Array(idx, emb, "7", "--k", "5",
        "--nprobe", "2", "--tier", tier) ++ extra)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val beforePq = single("pq")
    val beforeSq8 = single("sq8")
    spark.read.parquet(emb)
      .filter(pmod(col("vec_id"), lit(2)) === 0).select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    try {
      IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet",
        "--keep-manifests", "2"))
      // current state: every even id is tombstoned
      assert(single("sq8").forall(_._1 % 2 != 0))
      // --at v_build: the full-corpus answers, bit for bit, on both
      // code tiers (tombstones don't exist at that version)
      assert(single("pq", Seq("--at", vb.toString)) == beforePq)
      assert(single("sq8", Seq("--at", vb.toString)) == beforeSq8)
      // batch surface takes the same flag with the same semantics
      Seq(7L).toDF("vec_id")
        .write.mode("overwrite").parquet(s"$tmp/probes.parquet")
      val bat = IndexCorpus.searchBatch(spark, Array(idx, emb,
        s"$tmp/probes.parquet", "--k", "5", "--nprobe", "2",
        "--tier", "sq8", "--at", vb.toString))
        .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(bat == beforeSq8, s"batch time-travel drifted: $bat")
      intercept[IllegalArgumentException] {
        IndexCorpus.search(spark, Array(idx, emb, "7", "--at", "99"))
      }
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("a single search reads its source once: one schema-inference " +
    "job and one probe-row fetch, in the pq rerank and graph tiers") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tmp = Files.createTempDirectory("graft_index_once").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx, "--ivf-k", "4"))
    IndexCorpus.graph(spark, Array(idx, emb, "--deg", "3",
      "--planes", "12", "--bands", "2"))
    // the name of every job one search and the collect of its answer
    // schedule: a job's name is its call site, e.g. "head at X.scala:9"
    def jobsDuring(run: => Any): Seq[String] = {
      val sc = spark.sparkContext
      org.apache.spark.ListenerBusDrain(sc)
      val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          e.stageInfos.lastOption.foreach(st => names.add(st.name))
      }
      sc.addSparkListener(l)
      try {
        run
        org.apache.spark.ListenerBusDrain(sc)
      } finally sc.removeSparkListener(l)
      names.asScala.toSeq
    }
    def jobNames(flags: String*): Seq[String] = jobsDuring(
      IndexCorpus.search(spark, (Seq(idx, emb, "7") ++ flags).toArray)
        .collect())
    def jobsOf(names: Seq[String], op: String): Int =
      names.count(_.startsWith(s"$op at IndexCorpus.scala"))
    val pq = jobNames("--k", "5", "--nprobe", "2", "--rerank", "50")
    assert(jobsOf(pq, "parquet") == 1 && jobsOf(pq, "head") == 1,
      s"pq --rerank search jobs: $pq")
    val graph = jobNames("--k", "5", "--nprobe", "1", "--tier", "graph",
      "--beam", "6", "--hops", "2", "--rerank", "50")
    assert(jobsOf(graph, "parquet") == 1 && jobsOf(graph, "head") == 1,
      s"graph --rerank search jobs: $graph")
    // a batch search reads its source once too: the probe vectors, the
    // rerank frames and every graph hop derive from one source frame
    // (the probe frame is local, so it schedules no parquet job)
    def batchJobNames(flags: String*): Seq[String] = {
      import spark.implicits._
      jobsDuring(IndexCorpus.searchBatchFrame(spark,
        (Seq(idx, emb) ++ flags).toArray, Seq(7L, 9L).toDF("vec_id")).collect())
    }
    val pqBatch = batchJobNames("--k", "5", "--nprobe", "2", "--rerank", "50")
    assert(jobsOf(pqBatch, "parquet") == 1,
      s"pq --rerank searchBatch jobs: $pqBatch")
    val graphBatch = batchJobNames("--k", "5", "--nprobe", "1",
      "--tier", "graph", "--beam", "6", "--hops", "2")
    assert(jobsOf(graphBatch, "parquet") == 1,
      s"graph searchBatch jobs: $graphBatch")
  }

  test("one manifest open per reader command: pq --rerank, sq8 and " +
    "--at searches and a pq searchBatch each resolve the manifest once " +
    "on an index with tombstones") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_opens").toString
    val local = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, local, "--ivf-k", "4", "--sq8", "true"))
    val v0 = Artifacts.currentVersion(spark, local)
    spark.read.parquet(emb).filter(pmod(col("vec_id"), lit(5)) === 0)
      .select(col("vec_id")).write.mode("overwrite").parquet(s"$tmp/del.parquet")
    Seq(7L, 9L).toDF("vec_id").write.mode("overwrite")
      .parquet(s"$tmp/probes.parquet")
    try {
      IndexCorpus.delete(spark, Array(local, s"$tmp/del.parquet",
        "--keep-manifests", "2"))
      // the same files read through the counting mockhdfs scheme
      MockHdfsFileSystem.register(spark.sparkContext.hadoopConfiguration)
      val idx = s"mockhdfs://$local"
      def pairs(dir: String, flags: String*): Seq[(Long, Long)] =
        IndexCorpus.search(spark, (Seq(dir, emb, "7", "--k", "5",
          "--nprobe", "2") ++ flags).toArray)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      for (flags <- Seq(Seq("--rerank", "50"), Seq("--tier", "sq8"),
          Seq("--at", v0.toString))) {
        var got = Seq.empty[(Long, Long)]
        val n = MockHdfsFileSystem.manifestOpensUnder(local) {
          got = pairs(idx, flags: _*)
        }
        assert(n == 1, s"${flags.mkString(" ")}: $n manifest opens")
        assert(got == pairs(local, flags: _*))
      }
      val n = MockHdfsFileSystem.manifestOpensUnder(local) {
        IndexCorpus.searchBatch(spark, Array(idx, emb,
          s"$tmp/probes.parquet", "--k", "5", "--nprobe", "2")).collect()
      }
      assert(n == 1, s"pq searchBatch: $n manifest opens")
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("graph tier: beam traversal re-derivable from the persisted " +
    "graph + float source; honors retraction; deterministic") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_graph").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx, "--ivf-k", "4"))
    IndexCorpus.graph(spark, Array(idx, emb, "--deg", "3",
      "--planes", "12", "--bands", "2"))
    def searchGraph(): Seq[(Long, Long)] =
      IndexCorpus.search(spark, Array(idx, emb, "7", "--k", "5",
        "--nprobe", "1", "--tier", "graph", "--beam", "6", "--hops", "2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = searchGraph()
    assert(got == searchGraph(), "graph tier nondeterministic")

    // full driver-math replication of the traversal from the
    // persisted artifacts + float source
    val vecs = spark.read.parquet(emb)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cosTo(id: Long): Long = {
      val a = vecs(7L); val b = vecs(id)
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val c = BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      (c * 1000000).toLongExact
    }
    val cents = Artifacts.read(spark, idx, "ivf_centroids").collect()
      .groupBy(_.getLong(0)).map { case (j, rs) =>
        j -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val micros = spark.read.parquet(emb)
      .filter(col("vec_id") === 7 && size(col("embedding")) === 64)
      .select(graft.ops.SemDedup.microsVec(col("embedding")))
      .head().getSeq[Long](0).toArray
    def l2c(c: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < 64) { val x = micros(i) - c(i); d += x * x; i += 1 }
      d
    }
    val probed = cents.toSeq.map { case (j, c) => (l2c(c), j) }
      .sorted.take(1).map(_._2).toSet
    val assign = Artifacts.read(spark, idx, "assignments").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Artifacts.read(spark, idx, "knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSeq }
    val visited = scala.collection.mutable.Map.empty[Long, Long]
    assign.collect { case (id, cell) if probed(cell) && id != 7L => id }
      .toSeq.map(id => (id, cosTo(id)))
      .sortBy { case (id, c) => (-c, id) }.take(6)
      .foreach { case (id, c) => visited(id) = c }
    var continue = true
    var hop = 0
    while (hop < 2 && continue) {
      val beamIds = visited.toSeq
        .sortBy { case (id, c) => (-c, id) }.take(6).map(_._1)
      val nbrs = beamIds.flatMap(b => edges.getOrElse(b, Seq.empty))
        .distinct.filter(nb => nb != 7L && !visited.contains(nb))
      if (nbrs.isEmpty) continue = false
      else {
        nbrs.foreach(nb => visited(nb) = cosTo(nb))
        hop += 1
      }
    }
    val want = visited.toSeq.sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got == want, s"got=$got want=$want")

    // traversal hops past the seed cell: at least one result must sit
    // OUTSIDE the probed cell (that is the point of the graph tier)
    assert(got.exists { case (id, _) => !probed(assign(id)) },
      "graph traversal never left the seed cell")

    // retraction: delete the top hit; it must vanish from the beam
    Seq(got.head._1).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
    val after = searchGraph()
    assert(!after.exists(_._1 == got.head._1), "tombstoned id surfaced")
  }

  test("batched graph tier: the BSP walk's per-probe results equal " +
    "the single-probe beam traversal, including under retraction") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_bgraph").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx, "--ivf-k", "4"))
    IndexCorpus.graph(spark, Array(idx, emb, "--deg", "3",
      "--planes", "12", "--bands", "2"))
    Seq(0L, 1L, 7L, 12L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/probes.parquet")
    def check(): Unit = {
      val got = IndexCorpus.searchBatch(spark, Array(idx, emb,
        s"$tmp/probes.parquet", "--k", "5", "--nprobe", "1",
        "--tier", "graph", "--beam", "6", "--hops", "2"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      val want = Seq(0L, 1L, 7L, 12L).flatMap { pid =>
        IndexCorpus.search(spark, Array(idx, emb, pid.toString,
          "--k", "5", "--nprobe", "1", "--tier", "graph",
          "--beam", "6", "--hops", "2"))
          .collect().zipWithIndex.map { case (r, i) =>
            (pid, i + 1L, r.getLong(0), r.getLong(1))
          }
      }
      assert(got == want, s"got=$got want=$want")
    }
    check()
    // delete a node every walk visits-adjacent: equivalence must
    // survive the tombstone path in both forms
    val victim = IndexCorpus.search(spark, Array(idx, emb, "7",
      "--k", "1", "--nprobe", "1", "--tier", "graph",
      "--beam", "6", "--hops", "2")).head().getLong(0)
    Seq(victim).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
    check()
  }

  test("graph --append == full rebuild: appended adjacency (latest " +
    "version per node) is value-identical to a from-scratch graph " +
    "over the union; searches agree; repeated append is a no-op") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val full = spark.read.parquet(emb)
    val tmp = Files.createTempDirectory("graft_index_gapp").toString
    full.filter(pmod(col("vec_id"), lit(4)) =!= 0)
      .write.parquet(s"$tmp/old.parquet")
    // appended index: graph over 3/4, then --append the full file
    val idxA = s"$tmp/idxA"
    IndexCorpus.build(spark, Array(emb, idxA, "--ivf-k", "4"))
    IndexCorpus.graph(spark, Array(idxA, s"$tmp/old.parquet",
      "--deg", "3", "--planes", "12", "--bands", "2"))
    val nApp = IndexCorpus.graph(spark,
      Array(idxA, emb, "--append", "true")).head._2
    assert(nApp == full.select(col("vec_id")).distinct().count() -
      full.filter(pmod(col("vec_id"), lit(4)) =!= 0)
        .select(col("vec_id")).distinct().count())
    // rebuilt reference: graph over the full file in one shot
    val idxB = s"$tmp/idxB"
    IndexCorpus.build(spark, Array(emb, idxB, "--ivf-k", "4"))
    IndexCorpus.graph(spark, Array(idxB, emb,
      "--deg", "3", "--planes", "12", "--bands", "2"))
    // latest-version adjacency of A == B's single version, by VALUE
    def adjacency(idx: String): Set[(Long, Long, Long)] = {
      val g = Artifacts.read(spark, idx, "knn_graph")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id"))
      g.withColumn("mxv", max(col("ver")).over(w))
        .filter(col("ver") === col("mxv"))
        .select(col("id"), col("nbr"), col("cos_x1e6"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    }
    assert(adjacency(idxA) == adjacency(idxB),
      "append diverged from the full rebuild")
    // the serving answer agrees too
    def searchOn(idx: String): Seq[Seq[Any]] =
      IndexCorpus.search(spark, Array(idx, emb, "7", "--k", "5",
        "--nprobe", "1", "--tier", "graph", "--beam", "6", "--hops", "2"))
        .collect().map(_.toSeq).toSeq
    assert(searchOn(idxA) == searchOn(idxB))
    // re-appending the same file: nothing new, artifacts unchanged
    assert(IndexCorpus.graph(spark,
      Array(idxA, emb, "--append", "true")).head._2 == 0L)
    assert(adjacency(idxA) == adjacency(idxB))
    // MODE DIFFERENTIAL (round 17): the broadcast-wave shape (the
    // default above — the wave is tiny) and the shuffle-join + skew
    // grid shape (--max-broadcast-wave 0 forces it) must produce
    // value-identical adjacency — only the physical join strategy may
    // differ between them
    val idxC = s"$tmp/idxC"
    IndexCorpus.build(spark, Array(emb, idxC, "--ivf-k", "4"))
    IndexCorpus.graph(spark, Array(idxC, s"$tmp/old.parquet",
      "--deg", "3", "--planes", "12", "--bands", "2"))
    IndexCorpus.graph(spark, Array(idxC, emb, "--append", "true",
      "--max-broadcast-wave", "0"))
    assert(adjacency(idxC) == adjacency(idxB),
      "shuffle-path append diverged from the broadcast-path append")
  }

  test("graph tier --filter/--rerank: stratum pre-filter confines the " +
    "walk; --rerank walks by PQ-ADC with an exact tail; batch " +
    "equals single-probe in every mode") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_gfr").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx, "--ivf-k", "4"))
    IndexCorpus.graph(spark, Array(idx, emb, "--deg", "3",
      "--planes", "12", "--bands", "2"))

    // shared driver-side artifacts for the replays
    val vecs = spark.read.parquet(emb)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cosTo(id: Long): Long = {
      val a = vecs(7L); val b = vecs(id)
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      (BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000).toLongExact
    }
    val cents = Artifacts.read(spark, idx, "ivf_centroids").collect()
      .groupBy(_.getLong(0)).map { case (j, rs) =>
        j -> rs.sortBy(_.getLong(1)).map(_.getLong(2)) }
    val micros = spark.read.parquet(emb)
      .filter(col("vec_id") === 7 && size(col("embedding")) === 64)
      .select(graft.ops.SemDedup.microsVec(col("embedding")))
      .head().getSeq[Long](0).toArray
    def l2(off: Int, c: Array[Long]): Long = {
      var d = 0L; var i = 0
      while (i < c.length) { val x = micros(off + i) - c(i); d += x * x; i += 1 }
      d
    }
    val probed = cents.toSeq.map { case (j, c) => (l2(0, c), j) }
      .sorted.take(1).map(_._2).toSet
    val assign = Artifacts.read(spark, idx, "assignments").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = Artifacts.read(spark, idx, "knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, ps) => s -> ps.map(_._2).toSeq }
    // generic walk replay: `admit` is the stratum predicate, `score`
    // the traversal metric, `better` its ordering
    def walk(admit: Long => Boolean, score: Long => Option[Long],
        asc: Boolean): Map[Long, Long] = {
      def key(p: (Long, Long)): (Long, Long) =
        if (asc) (p._2, p._1) else (-p._2, p._1)
      val visited = scala.collection.mutable.Map.empty[Long, Long]
      assign.collect { case (id, cell)
        if probed(cell) && id != 7L && admit(id) => id }
        .toSeq.flatMap(id => score(id).map(id -> _))
        .sortBy(key).take(6)
        .foreach { case (id, c) => visited(id) = c }
      var go = true; var hop = 0
      while (hop < 2 && go) {
        val beamIds = visited.toSeq.sortBy(key).take(6).map(_._1)
        val nbrs = beamIds.flatMap(b => edges.getOrElse(b, Seq.empty))
          .distinct.filter(nb => nb != 7L && !visited.contains(nb) &&
            admit(nb))
        val scored = nbrs.flatMap(nb => score(nb).map(nb -> _))
        if (scored.isEmpty) go = false
        else { scored.foreach { case (nb, c) => visited(nb) = c }; hop += 1 }
      }
      visited.toMap
    }

    // --filter: walk confined to the stratum (id % 2 = 0)
    val gotF = IndexCorpus.search(spark, Array(idx, emb, "7", "--k", "5",
      "--nprobe", "1", "--tier", "graph", "--beam", "6", "--hops", "2",
      "--filter", "id % 2 = 0"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotF.nonEmpty && gotF.forall(_._1 % 2 == 0))
    val wantF = walk(_ % 2 == 0,
      id => if (vecs.contains(id)) Some(cosTo(id)) else None, asc = false)
      .toSeq.sortBy { case (id, c) => (-c, id) }.take(5)
    assert(gotF == wantF, s"got=$gotF want=$wantF")

    // --rerank: the walk scores by PQ-ADC (codes only), the exact
    // cosine touches only the final shortlist
    val books = Artifacts.read(spark, idx, "pq_codebooks").collect()
      .groupBy(r => (r.getLong(0), r.getLong(1))).map { case (sj, rs) =>
        sj -> rs.sortBy(_.getLong(2)).map(_.getLong(3)) }
    val codes = Artifacts.read(spark, idx, "pq_codes").collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    def adcOf(id: Long): Option[Long] = codes.get(id).map { cs =>
      (0 until 2).map(s => l2(s * 32, books((s.toLong, cs(s.toLong))))).sum
    }
    val gotR = IndexCorpus.search(spark, Array(idx, emb, "7", "--k", "5",
      "--nprobe", "1", "--tier", "graph", "--beam", "6", "--hops", "2",
      "--rerank", "6"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val visitedR = walk(_ => true, adcOf, asc = true)
    val wantR = visitedR.toSeq.sortBy { case (id, a) => (a, id) }.take(6)
      .map { case (id, a) => (id, a, cosTo(id)) }
      .sortBy { case (id, _, c) => (-c, id) }.take(5)
    assert(gotR == wantR, s"got=$gotR want=$wantR")

    // batch twins: per-probe rows identical to the single-probe path
    Seq(0L, 7L, 12L).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/probes.parquet")
    for (extra <- Seq(Seq("--filter", "id % 2 = 0"),
      Seq("--rerank", "6"),
      Seq("--filter", "id % 2 = 0", "--rerank", "6"))) {
      val got = IndexCorpus.searchBatch(spark, Array(idx, emb,
        s"$tmp/probes.parquet", "--k", "5", "--nprobe", "1",
        "--tier", "graph", "--beam", "6", "--hops", "2") ++ extra)
        .collect().map(_.toSeq).toSeq
      val want = Seq(0L, 7L, 12L).flatMap { pid =>
        IndexCorpus.search(spark, Array(idx, emb, pid.toString,
          "--k", "5", "--nprobe", "1", "--tier", "graph",
          "--beam", "6", "--hops", "2") ++ extra)
          .collect().zipWithIndex.map { case (r, i) =>
            Seq[Any](pid, i + 1L) ++ r.toSeq
          }
      }
      assert(got == want, s"mode=$extra got=$got want=$want")
    }
  }

  test("graph --gbuckets: compact rewrites knn_graph with the " +
    "PERSISTED bucket count (graph_meta), not the compile-time " +
    "default — the traversal's partition math stays valid") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_index_gb").toString
    val idx = s"$tmp/idx"
    IndexCorpus.build(spark, Array(emb, idx, "--ivf-k", "4"))
    // a bucket count that differs from the compile-time 16
    IndexCorpus.graph(spark, Array(idx, emb, "--deg", "3",
      "--planes", "12", "--bands", "2", "--gbuckets", "4"))
    def searchGraph(): Seq[(Long, Long)] =
      IndexCorpus.search(spark, Array(idx, emb, "7", "--k", "5",
        "--nprobe", "1", "--tier", "graph", "--beam", "6", "--hops", "2"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val before = searchGraph()
    assert(before.nonEmpty)
    // delete one non-result id so compact has tombstones to fold,
    // then FULL-compact: the knn_graph rewrite must re-bucket with
    // graph_meta's 4, keeping every row's gb == pmod(id, 4)
    val victim = Artifacts.read(spark, idx, "assignments")
      .filter(!col("id").isin(7L +: before.map(x => Long.box(x._1)): _*))
      .select(col("id")).head().getLong(0)
    Seq(victim).toDF("vec_id")
      .write.mode("overwrite").parquet(s"$tmp/del.parquet")
    IndexCorpus.delete(spark, Array(idx, s"$tmp/del.parquet"))
    val preCompact = searchGraph()
    IndexCorpus.compact(spark, Array(idx))
    val g = Artifacts.read(spark, idx, "knn_graph")
    assert(g.filter(col("gb") =!= pmod(col("id"), lit(4L))).count() == 0L,
      "compact re-partitioned knn_graph with the wrong bucket count")
    assert(searchGraph() == preCompact,
      "graph-tier answer changed across compact")
  }

  test("autoPlanes reproduces the SCALING.md round-15 resolution " +
    "ladder (256k -> 20, 1M -> 24, 32k -> 14) and floors small " +
    "corpora at the historical default 12") {
    assert(IndexCorpus.autoPlanes(256000L, 2) == 20)
    assert(IndexCorpus.autoPlanes(1024000L, 2) == 24)
    assert(IndexCorpus.autoPlanes(32000L, 2) == 14)
    assert(IndexCorpus.autoPlanes(16000L, 2) == 12)
    assert(IndexCorpus.autoPlanes(500L, 2) == 12)
    assert(IndexCorpus.autoPlanes(0L, 2) == 12)
    // more bands = proportionally more planes at the same occupancy
    assert(IndexCorpus.autoPlanes(256000L, 4) == 40)
  }

  test("graph build racing concurrent ingest (round 16): the kNN " +
    "derivation runs EXACTLY ONCE however the CAS races land, the " +
    "build and both ingest waves all survive, and the edges equal " +
    "an unraced build's; an all-covered --append wave is a clean " +
    "zero (no non-local-return leak past vacuum/refresh)") {
    import org.apache.spark.sql.functions._
    val tmp = Files.createTempDirectory("graft_graph_race").toString
    val idx = s"$tmp/idx"
    val flagsB = Array("--ivf-k", "4", "--pq-m", "2", "--pq-k", "4",
      "--iters", "1")
    IndexCorpus.build(spark, Array(emb, idx) ++ flagsB)
    // the unraced reference build on a twin index
    val ref = s"$tmp/ref"
    IndexCorpus.build(spark, Array(emb, ref) ++ flagsB)
    IndexCorpus.graph(spark, Array(ref, emb,
      "--deg", "3", "--planes", "12", "--bands", "2"))
    val want = Artifacts.read(spark, ref, "knn_graph")
      .select(col("id"), col("nbr"), col("cos_x1e6"), col("rn"))
      .collect().map(_.toSeq).toSet

    val waves = Seq(1L, 3L).map(r => spark.read.parquet(emb)
      .filter(pmod(col("vec_id"), lit(4)) === r)
      .withColumn("vec_id", col("vec_id") + lit(100000L)))
    val nWave = waves.map(_.count()).sum
    assert(nWave > 0)
    // the multi-writer sizing rules: window >= writers + 1, and a
    // REAL grace age — an earlier test's --vacuum-grace-ms 0 is
    // session-sticky and would let a competitor's vacuum reclaim this
    // race's in-flight segments (the documented grace contract)
    val prevKeep = spark.conf.getOption("spark.graft.keepManifests")
    val prevGrace = spark.conf.getOption("spark.graft.vacuumGraceMs")
    spark.conf.set("spark.graft.keepManifests", "3") // writers + 1
    spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
    val callsBefore = graft.ops.Similarity.knnGraphCalls.get()
    import java.util.concurrent.{Callable, CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    try {
      val gate = new CountDownLatch(1)
      val ing = pool.submit(new Callable[Long] {
        def call(): Long = {
          gate.await()
          waves.map(w =>
            IndexCorpus.ingestFrame(spark, idx, w, "vec_id", "embedding")).sum
        }
      })
      val gr = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          gate.await()
          IndexCorpus.graph(spark, Array(idx, emb,
            "--deg", "3", "--planes", "12", "--bands", "2"))
          ()
        }
      })
      gate.countDown()
      // await BOTH before asserting: a failed ingest must not leave
      // the graph thread racing the assertions (and later tests)
      val ingRes = scala.util.Try(ing.get())
      val grRes = scala.util.Try(gr.get())
      grRes.get
      assert(ingRes.get == nWave)
    } finally {
      pool.shutdown()
      prevKeep match {
        case Some(k) => spark.conf.set("spark.graft.keepManifests", k)
        case None    => spark.conf.unset("spark.graft.keepManifests")
      }
      prevGrace match {
        case Some(g) => spark.conf.set("spark.graft.vacuumGraceMs", g)
        case None    => spark.conf.unset("spark.graft.vacuumGraceMs")
      }
    }
    // the derive-once contract: exactly ONE knnGraph invocation for
    // the raced build, whether or not it lost CAS races to the waves
    assert(graft.ops.Similarity.knnGraphCalls.get() - callsBefore == 1L,
      "the raced graph build re-derived its kNN edges")
    // the graph artifacts equal the unraced reference's ...
    val got = Artifacts.read(spark, idx, "knn_graph")
      .select(col("id"), col("nbr"), col("cos_x1e6"), col("rn"))
      .collect().map(_.toSeq).toSet
    assert(got == want, "raced build's edges differ from unraced")
    // ... and neither ingest wave was dropped by the metadata merge
    assert(Artifacts.read(spark, idx, "assignments")
      .filter(col("id") >= 100000L).count() == nWave,
      "an ingest wave was lost to the graph build's commit")
    // all-covered append wave: clean zero, epilogue ran (the index
    // stays fully servable — vacuum/refresh were not skipped)
    assert(IndexCorpus.graph(spark, Array(idx, emb, "--append", "true"))
      == Seq("appended" -> 0L))
    assert(Artifacts.read(spark, idx, "knn_graph").count() == got.size)
  }
}
