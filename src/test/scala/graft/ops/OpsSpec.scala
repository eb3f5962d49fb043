package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Invariant tests for the corpus ops; exact value parity with DuckDB
  * is covered by the oracle gate (q20-q30), so these pin semantics
  * the oracle can't see: planted duplicates, recall relationships,
  * edge shapes.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "OpsSpec")
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the  quick   brown fox jumps over the lazy dog"), // spacing dup
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different content about spark engines"),
    (5L, "short doc")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min-id per fingerprint group") {
    val out = Dedup.exactDedup(
      docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      col("fp"), "doc_id")
    val dups = out.filter(col("is_duplicate")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(dups == Set(1L, 2L)) // 0 survives; 2 dups via whitespace collapse
  }

  test("minhash excludes sub-n-token docs instead of vacuously pairing them") {
    val shorts = Seq((0L, "alpha beta"), (1L, "gamma delta"), (2L, "x")).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(shorts, "doc_id", "text",
      n = 3, bands = 4, rows = 4, num = 1, den = 1)
    assert(pairs.count() == 0) // no 0/0-Jaccard false positives
  }

  test("minhash pairs find the planted near-dup and skip unrelated") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      n = 3, bands = 4, rows = 4, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical
    assert(pairs.contains((0L, 3L)) || pairs.contains((1L, 3L))) // near dup
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }) // unrelated
  }

  test("simhash: identical docs equal, near-dups close, distinct far") {
    val sigs = docs
      .select(col("doc_id"), Dedup.tokenHashes60(col("text")).as("hs"))
      .select(col("doc_id"), Dedup.simhashFromHashes(col("hs")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) == sigs(2L)) // whitespace-insensitive tokens
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(3L)) < ham(sigs(0L), sigs(4L)))
  }

  test("simhash band blocking finds pairs wherever the differing bits fall") {
    // s1 differs from s0 only in the TOP bits — the round-1 top-prefix
    // blocking could never generate this pair; pigeonhole bands must.
    val s0 = 0x0ABCDEF012345L
    val s1 = s0 ^ (7L << 57) // 3 of the top 12 bits
    val s2 = s0 ^ 0x3FL // 6 low bits
    val far = s0 ^ ((1L << 30) - 1) // 30 bits apart — not a pair
    val sigs = Seq((0L, s0), (1L, s1), (2L, s2), (3L, far)).toDF("id", "sig")
    val pairs = Dedup.simhashPairsFromSigs(sigs, maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((0L, 1L)).contains(3))
    assert(pairs.get((0L, 2L)).contains(6))
    assert(!pairs.contains((1L, 2L))) // dist 9 > maxDist
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash pair scan works with STRING ids (triangle grouping hashes the id)") {
    // regression: trianglePairs grouped on pmod(id, g) — a string id
    // coerced to null, sequence(null, ..) nulled out, and explode
    // dropped every candidate, silently returning zero pairs
    val s0 = 0x0ABCDEF012345L
    val sigs = Seq(("docA", s0), ("docB", s0 ^ 0x3FL), ("docC", s0 ^ ((1L << 30) - 1)))
      .toDF("id", "sig")
    val pairs = Dedup.simhashPairsFromSigs(sigs, maxDist = 8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
    assert(pairs == Map(("docA", "docB") -> 6))
  }

  test("pigeonhole decomposition: every <=maxDist pair shares a band (randomized)") {
    // pure check of the blocking math simhashPairsFromSigs relies on:
    // 9 bands over 60 bits, any pair with <=8 differing bits agrees on
    // at least one full band. Deterministic seed; 20k random cases.
    val bands = 9
    val base = 60 / bands
    val extra = 60 % bands
    val widths = Seq.tabulate(bands)(i => if (i < extra) base + 1 else base)
    val los = widths.scanLeft(0)(_ + _).init
    val rnd = new scala.util.Random(42)
    (1 to 20000).foreach { _ =>
      val sig = rnd.nextLong() & ((1L << 60) - 1)
      val nFlips = 1 + rnd.nextInt(8)
      val flipped = Iterator.continually(rnd.nextInt(60)).distinct
        .take(nFlips).foldLeft(sig)((s, b) => s ^ (1L << b))
      val shares = (0 until bands).exists { b =>
        ((sig >> los(b)) & ((1L << widths(b)) - 1)) ==
          ((flipped >> los(b)) & ((1L << widths(b)) - 1))
      }
      assert(shares, f"no shared band for sig=$sig%x flips=$nFlips")
    }
  }

  test("wide band layout: no word straddle, full coverage, >=12-bit bands") {
    val layout = Dedup.wideBandLayout(words = 2, wordBits = 60, bands = 9)
    assert(layout.size == 9)
    // every band inside one word
    layout.foreach { case (w, lo, wd) =>
      assert(w == 0 || w == 1); assert(lo >= 0 && lo + wd <= 60)
    }
    // exact bit coverage per word, no overlap
    (0 to 1).foreach { w =>
      val covered = layout.filter(_._1 == w)
        .flatMap { case (_, lo, wd) => lo until (lo + wd) }
      assert(covered.sorted == (0 until 60))
    }
    // the scale property q26's 60-bit form lacks: every band value
    // space is >= 2^12 (bucket population ~ corpus / 4096 or better)
    assert(layout.map(_._3).min >= 12)
    // bucket population, two measurements:
    // (1) UNIFORM sigs: the hottest (band, value) bucket must be near
    //     the ideal n/2^bandWidth — the 60-bit form's 6-bit bands
    //     concentrate n/64 here, the scale defect this layout removes.
    //     (On the REAL corpus the hottest bucket is ~38%: that is the
    //     planted near-dup cluster itself, which any recall-complete
    //     blocking MUST co-locate — content structure, not key defect.)
    val rnd = new scala.util.Random(11)
    val mask60 = (1L << 60) - 1
    val uniform = Seq.tabulate(5000)(i =>
      (i.toLong, rnd.nextLong() & mask60, rnd.nextLong() & mask60))
      .toDF("id", "w0", "w1")
      .select(col("id"), array(col("w0"), col("w1")).as("sig"))
    def bandVal(w: Int, lo: Int, wd: Int) =
      shiftright(element_at(col("sig"), w + 1), lo)
        .bitwiseAND(lit((1L << wd) - 1))
    val buckets = layout.zipWithIndex.map { case ((w, lo, wd), bi) =>
      uniform.select(lit(bi).as("b"), bandVal(w, lo, wd).as("v"))
    }.reduce(_ unionByName _)
    val maxBucket = buckets.groupBy(col("b"), col("v")).count()
      .agg(max(col("count"))).head.getLong(0)
    // ideal for the widest-populated band: 5000/2^12 ~ 1.2; allow noise
    assert(maxBucket <= 10, s"uniform hottest bucket $maxBucket (ideal ~1)")
    // (2) REAL corpus: the wide layout must never be hotter than the
    //     60-bit layout on the same data (same clusters, wider values)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def hottest(sigDf: org.apache.spark.sql.DataFrame,
        lay: Seq[(Int, Int, Int)]): Long =
      lay.zipWithIndex.map { case ((w, lo, wd), bi) =>
        sigDf.select(lit(bi).as("b"), bandVal(w, lo, wd).as("v"))
      }.reduce(_ unionByName _)
        .groupBy(col("b"), col("v")).count()
        .agg(max(col("count"))).head.getLong(0)
    val wideSigs = corpus.select(
      SketchExpressions.simhash120(col("text")).as("sig"))
    val narrowSigs = corpus.select(
      array(SketchExpressions.simhash60(col("text")), lit(0L)).as("sig"))
    val narrowLayout = Dedup.wideBandLayout(1, 60, 9)
      .map { case (_, lo, wd) => (0, lo, wd) }
    val wideMax = hottest(wideSigs, layout)
    val narrowMax = hottest(narrowSigs, narrowLayout)
    assert(wideMax <= narrowMax,
      s"wide layout hotter than 60-bit on real data: $wideMax > $narrowMax")
  }

  test("wide pigeonhole: every <=maxDist 120-bit pair shares a band (randomized)") {
    val layout = Dedup.wideBandLayout(2, 60, 9)
    val rnd = new scala.util.Random(43)
    val mask60 = (1L << 60) - 1
    (1 to 20000).foreach { _ =>
      val sig = Array(rnd.nextLong() & mask60, rnd.nextLong() & mask60)
      val nFlips = 1 + rnd.nextInt(8)
      val flipped = sig.clone()
      Iterator.continually(rnd.nextInt(120)).distinct.take(nFlips)
        .foreach(b => flipped(b / 60) ^= (1L << (b % 60)))
      val shares = layout.exists { case (w, lo, wd) =>
        ((sig(w) >> lo) & ((1L << wd) - 1)) ==
          ((flipped(w) >> lo) & ((1L << wd) - 1))
      }
      assert(shares, s"no shared band, flips=$nFlips")
    }
  }

  test("simhash120: word0 == simhash60; blocking finds cross-word split pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    docs.select(SketchExpressions.simhash120(col("text")).as("s2"),
      SketchExpressions.simhash60(col("text")).as("s1"))
      .collect().foreach(r => assert(r.getSeq[Long](0).head == r.getLong(1)))
    // a pair whose 8 differing bits straddle BOTH words — single-word
    // blocking over either word alone could place all its differing
    // bits badly; the 2-word pigeonhole must still find it
    val w0 = 0x0ABCDEF012345L
    val w1 = 0x0123456789ABCL
    val s0 = (0L, w0, w1)
    val s1 = (1L, w0 ^ (0xFL << 56), w1 ^ 0xFL) // 4 high + 4 low bits
    val s2 = (2L, w0 ^ (0x1FL << 55), w1 ^ 0xFL) // 9 bits — beyond maxDist
    val sigs = Seq(s0, s1, s2)
      .toDF("id", "w0", "w1").select(col("id"), array(col("w0"), col("w1")).as("sig"))
    val pairs = Dedup.simhashPairsFromSigsWide(sigs, maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((0L, 1L)).contains(8))
    assert(!pairs.contains((0L, 2L)))
  }

  test("jaccard pairs integer threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      Seq(element_at(TextOps.tokens(col("text")), 1)), 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L)))
  }

  test("connected components: chains, cycles, singletons, empty graph") {
    // chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    // cycle 10-11-12-10, isolated pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(empty.count() == 0)
  }

  test("connected components: driver union-find == distributed loop on a random graph") {
    // seeded random graph with chains, merges, and singleton-free
    // nodes; the driver path (default threshold) and the forced
    // distributed loop must produce identical min-id labels
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400)
      .map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Dedup.connectedComponents(edges, driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop)
  }

  test("dedup clusters: identical docs share a cluster with one canonical") {
    val out = Dedup.dedupClusters(docs, "doc_id", "text",
      n = 3, bands = 4, rows = 4, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(0L)._2 == byId(1L)._2) // identical docs, one cluster
    assert(byId(0L)._3 && !byId(1L)._3) // min id is canonical
    assert(byId(4L)._2 == 4L && byId(4L)._3) // unrelated doc is a singleton
    assert(out.length == docs.count()) // every doc labeled
  }

  test("min-k shingle blocking finds near-dups and bounds block skew") {
    val pairs = Dedup.jaccardPairsMinK(docs, "doc_id", "text",
      n = 3, k = 3, num = 1, den = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical docs
    assert(pairs.contains((0L, 3L))) // planted near-dup
    // skew bound on the real corpus: no block key may hold more than
    // 2% of docs (measured 0.6-1.2%, shrinking with scale; the old
    // (lang, first-token) key measured 1.9-2.8%, and single-token
    // min-hashes 77-81% — SCALING.md "Retired probes", block-key skew)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = corpus.count()
    val maxBlock = corpus.select(explode(
      slice(array_sort(SketchExpressions.hashedShingles(col("text"), 3)), 1, 3)).as("b"))
      .groupBy("b").count().agg(max("count")).head.getLong(0)
    assert(maxBlock.toDouble / n < 0.02,
      s"max block $maxBlock of $n docs exceeds 2%")
  }

  test("lsh ANN is a subset-ranking of brute force on the same bucket") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qv = typedLit(emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0))
    val brute = Similarity.topKCosine(emb, "vec_id", "embedding", qv, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val planes = Similarity.hyperplanes(8, 64)
    val lsh = Similarity.topKCosineLsh(emb, "vec_id", "embedding", qv, 10, planes)
      .collect()
    assert(lsh.nonEmpty)
    assert(lsh.head.getLong(0) == 0L) // query itself tops its own bucket
    // every LSH result's cosine agrees with the brute-force computation
    lsh.foreach { r =>
      brute.get(r.getLong(0)).foreach(c => assert(math.abs(c - r.getDouble(1)) < 1e-9))
    }
  }

  test("vector kernels agree bit-for-bit with the HOF formulation") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes = Similarity.hyperplanes(8, 64)
    val qv = typedLit(emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0))
    val cmp = emb.select(
      Similarity.cosineHof(col("embedding"), qv).as("cos_hof"),
      Similarity.cosine(col("embedding"), qv).as("cos_ker"),
      Similarity.lshBucketHof(col("embedding"), planes).as("b_hof"),
      Similarity.lshBucket(col("embedding"), planes).as("b_ker"))
    cmp.collect().foreach { r =>
      // exact double equality: fold order is part of the contract
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("multi-probe and multi-table widen recall over their single variants") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val all = Similarity.hyperplanes(16, 64)
    val planes = all.take(8)
    val qv = typedLit(emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0))
    val single = Similarity.topKCosineLsh(emb, "vec_id", "embedding", qv, 50, planes)
      .collect().map(_.getLong(0)).toSet
    val multi = Similarity.topKCosineLshMultiProbe(
      emb, "vec_id", "embedding", qv, 50, planes, maxFlip = 1)
      .collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(multi) || multi.size == 50) // superset until k caps it
    assert(multi.size >= single.size)
    val onePairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", planes, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val twoPairs = Similarity.nearDupPairsMultiTable(
      emb, "vec_id", "embedding", Seq(planes, all.drop(8)), 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(twoPairs.length == twoPairs.toSet.size) // exactly-once emission
    assert(onePairs.subsetOf(twoPairs.toSet)) // OR-construction only adds
  }

  test("knn graph: per-node top-k over the blocked candidates matches " +
    "driver math; rn contiguous; minCos floors the edges") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val all = Similarity.hyperplanes(12, 64)
    val tables = Seq(all.take(6), all.drop(6))
    val got = Similarity.knnGraph(emb, "vec_id", "embedding", 3, tables)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq

    // reference: the SAME blocked candidate pairs (exactly-once
    // emission is pinned by the multi-table test above), mirrored and
    // ranked driver-side
    val pairs = Similarity.nearDupPairsMultiTable(
      emb, "vec_id", "embedding", tables, -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .groupBy(_._1).toSeq.flatMap { case (id, es) =>
        es.sortBy { case (_, nbr, c) => (-c, nbr) }.take(3).zipWithIndex
          .map { case ((_, nbr, c), i) => (id, nbr, c, i + 1) }
      }
    assert(got.sorted == want.sorted)

    // rn is contiguous 1..m per node, m <= k
    got.groupBy(_._1).foreach { case (id, es) =>
      assert(es.map(_._4).sorted == (1 to es.length), s"node $id")
      assert(es.length <= 3)
    }
    // a similarity floor drops exactly the below-floor edges of the
    // unfloored graph (per-node ranking recomputed over survivors)
    val floored = Similarity.knnGraph(
      emb, "vec_id", "embedding", 3, tables, minCos = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq
    assert(floored.forall(_._3 >= 0.2))
    val wantF = pairs.filter(_._3 >= 0.2)
      .flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      .groupBy(_._1).toSeq.flatMap { case (id, es) =>
        es.sortBy { case (_, nbr, c) => (-c, nbr) }.take(3).zipWithIndex
          .map { case ((_, nbr, c), i) => (id, nbr, c, i + 1) }
      }
    assert(floored.sorted == wantF.sorted)
    // drop the operator-scoped caches: a lingering cached embeddings
    // projection would substitute InMemoryTableScan into later
    // suites' plan-shape assertions (suites share the JVM)
    graft.Scratch.release()
  }

  test("skew-parallel grid split (chunkRows) emits EXACTLY the unsalted " +
    "pair set — multi-table, knn graph, and append pairs") {
    // skewed fixture: 3 replicas of every vector under distinct ids —
    // duplicates share every LSH bucket, so each bucket is a hot
    // bucket and tiny chunkRows forces multi-cell grids everywhere
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val emb = (0 until 3).map(r => base.select(
      (col("vec_id") + lit(r * 10000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val all = Similarity.hyperplanes(12, 64)
    val tables = Seq(all.take(6), all.drop(6))

    val plain = Similarity.nearDupPairsMultiTable(
      emb, "vec_id", "embedding", tables, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val salted = Similarity.nearDupPairsMultiTable(
      emb, "vec_id", "embedding", tables, 0.3, chunkRows = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(salted.length == salted.toSet.size) // exactly-once survives
    assert(salted.toSet == plain.toSet)

    // the graph built through the grid is identical edge-for-edge
    val gPlain = Similarity.knnGraph(emb, "vec_id", "embedding", 3, tables)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    val gSalted = Similarity.knnGraph(emb, "vec_id", "embedding", 3, tables,
      minCos = -1.0, chunkRows = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet
    assert(gSalted == gPlain)

    // append-wave pairs: asymmetric grid (corpus x wave) — same set
    val newIds = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      .select(col("vec_id").as("id"))
    val aPlain = Similarity.knnGraphAppendPairs(
      emb, newIds, "vec_id", "embedding", tables, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val aSalted = Similarity.knnGraphAppendPairs(
      emb, newIds, "vec_id", "embedding", tables, 0.3, chunkRows = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(aSalted.length == aSalted.toSet.size)
    assert(aSalted.toSet == aPlain.toSet)
    // broadcast-wave shape (round 17): the wave side broadcasts and
    // the corpus side stays a map-side scan — same pair set again
    val aBcast = Similarity.knnGraphAppendPairs(
      emb, newIds, "vec_id", "embedding", tables, 0.3,
      broadcastWave = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(aBcast.length == aBcast.toSet.size)
    assert(aBcast.toSet == aPlain.toSet)
    graft.Scratch.release()
  }

  test("text kernels agree with the HOF formulation incl. edge shapes") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .unionByName(Seq("", "   ", "x", "the the the",
        "one-token", "a b  c   d", "a\tb\nc\r MIXED Case", "\ttrail ")
        .toDF("text"))
    val cmp = corpus.select(
      TextOps.fingerprintHof(col("text")).as("fp_h"),
      TextOps.fingerprint(col("text")).as("fp_k"),
      TextOps.tokenCountHof(col("text")).as("tc_h"),
      TextOps.tokenCount(col("text")).as("tc_k"),
      TextOps.langPredictHof(col("text")).as("lp_h"),
      TextOps.langPredict(col("text")).as("lp_k"),
      TextOps.qualitySignalsHof(col("text")).as("q_h"),
      TextOps.qualitySignals(col("text")).as("q_k"),
      TextOps.rollingHashHof(col("text")).as("rh_h"),
      TextOps.rollingHash(col("text")).as("rh_k"))
    cmp.collect().foreach { r =>
      assert(r.getString(0) == r.getString(1)) // fingerprint
      assert(r.getInt(2) == r.getInt(3)) // token count
      assert(r.getString(4) == r.getString(5)) // lang
      assert(r.getStruct(6) == r.getStruct(7)) // quality signals
      assert(r.getLong(8) == r.getLong(9)) // rolling hash
    }
  }

  test("sketch kernels agree with the Column-function formulation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
    val cmp = docs.select(
      Dedup.simhashFromHashes(Dedup.tokenHashes60(col("text"))).as("sim_col"),
      SketchExpressions.simhash60(col("text")).as("sim_ker"),
      Dedup.minhashSignature(
        Dedup.shingleHashes(Dedup.shingles(col("text"), 3))).as("mh_col"),
      SketchExpressions.minhashSignature(col("text"), 3).as("mh_ker"),
      Dedup.shingleHashes(Dedup.shingles(col("text"), 3)).as("hs_col"),
      SketchExpressions.hashedShingles(col("text"), 3).as("hs_ker"))
    cmp.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getSeq[Any](2) == r.getSeq[Any](3))
      assert(r.getSeq[Any](4) == r.getSeq[Any](5))
    }
  }

  test("IVF ANN probes a corpus fraction and agrees with brute force on cosines") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray.map(_.toDouble)
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 16)
    assert(centroids.length == 16)
    val ivf = Similarity.topKCosineIvf(emb, "vec_id", "embedding", q, 10,
      centroids, nprobe = 4).collect()
    assert(ivf.nonEmpty)
    assert(ivf.head.getLong(0) == 0L) // the query vector's own cell is probed
    val qv = typedLit(q.toSeq)
    val brute = Similarity.topKCosine(emb, "vec_id", "embedding", qv, 500)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { r => // every IVF cosine agrees with the exact computation
      assert(math.abs(brute(r.getLong(0)) - r.getDouble(1)) < 1e-9)
    }
  }

  test("lowest-id seeding: the k lowest-id vectors seed the cells") {
    import spark.implicits._
    // four tight direction-clusters; ids ordered so the k=4 LOWEST-ID
    // seeds all fall in cluster 0
    val vecs = (0 until 40).map { i =>
      val axis = i / 10
      val v = Array.fill(4)(0.05f * ((i * 7 % 3) - 1))
      v(axis) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    // lowest-id seeds (iters=0) all sit in cluster 0 on this layout
    val low = Similarity.ivfCentroids(vecs, "vec_id", "embedding",
      k = 4, iters = 0)
    assert(low.map { case (_, v) => v.indexOf(v.max) }.toSet == Set(0))
  }

  test("filtered IVF probe: pre-filter returns the exact filtered " +
    "top-k of the probed cells; post-filter is a subset of it") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).toArray.map(_.toDouble)
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 16)
    val pred = pmod(col("vec_id"), lit(10)) === 0
    val pre = Similarity.topKCosineIvfFiltered(emb, "vec_id", "embedding",
      q, 10, centroids, nprobe = 4, pred).collect()
    assert(pre.nonEmpty)
    // every result satisfies the predicate
    assert(pre.forall(_.getLong(0) % 10 == 0))
    // pre == brute-force top-10 over (probed cells ∩ predicate):
    // recompute the probed restriction manually
    val probed = Similarity.assignClusters(emb, "embedding", centroids)
    val cellsOfTop = {
      val probes = centroids.map { case (c, w) =>
        var d = 0.0; var na = 0.0; var nb = 0.0
        for (i <- q.indices) { d += q(i) * w(i); na += q(i) * q(i); nb += w(i) * w(i) }
        c -> d / (math.sqrt(na) * math.sqrt(nb))
      }.sortBy { case (c, s) => (-s, c) }.take(4).map(_._1).toSet
      probes
    }
    val manual = probed
      .filter(col("_cluster").isin(cellsOfTop.toSeq: _*) && pred)
      .select(col("vec_id").as("id"),
        round(Similarity.cosine(col("embedding"),
          typedLit(q.toSeq)), 6).as("cos"))
      .orderBy(col("cos").desc, col("id")).limit(10).collect()
    assert(pre.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      manual.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // post-filter can only ever return pre-filter members (the
    // over-fetch window loses low-selectivity members, never adds)
    val post = Similarity.topKCosineIvfPostFiltered(emb, "vec_id",
      "embedding", q, 10, centroids, nprobe = 4, pred, overFetch = 4)
      .collect()
    val preIds = pre.map(_.getLong(0)).toSet
    assert(post.forall(r => preIds.contains(r.getLong(0))))
  }

  test("IVF recall: exact variant is 10/10 by construction, plain is data-limited") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .cache()
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding",
      k = 16, iters = 2, sampleMod = 4) // q38/q58 production parameters
    val radii = Similarity.ivfCellRadii(emb, "embedding", centroids)
    val (plainRecalls, exactRecalls) = Seq(0L, 7L, 13L, 29L, 42L).map { probe =>
      val q = emb.filter(col("vec_id") === probe).select(col("embedding"))
        .head().getSeq[Float](0).toArray.map(_.toDouble)
      val bf = Similarity.topKCosine(emb, "vec_id", "embedding",
        typedLit(q.toSeq), 10).collect().map(_.getLong(0)).toSet
      val plain = Similarity.topKCosineIvf(emb, "vec_id", "embedding", q, 10,
        centroids, nprobe = 4).collect().map(_.getLong(0)).toSet
      val exact = Similarity.topKCosineIvfExact(emb, "vec_id", "embedding",
        q, 10, centroids, radii, nprobe = 4).collect().map(_.getLong(0)).toSet
      ((bf intersect plain).size, (bf intersect exact).size)
    }.unzip
    // triangle-inequality pruning can never lose a true neighbor
    exactRecalls.foreach(r => assert(r == 10, s"exact IVF lost rows: $exactRecalls"))
    // plain probe-limited IVF on this NEAR-UNIFORM corpus is
    // data-limited: E[recall] ~ nprobe/k = 2.5/10 per cell coverage;
    // measured 3-8 (RECALL.md "Raw probe output"). The floor guards
    // against regression to broken-assignment territory, not against
    // the data's geometry.
    plainRecalls.foreach(r => assert(r >= 2, s"plain IVF recall collapsed: $plainRecalls"))
    // a full-table cache left behind would substitute
    // InMemoryTableScan into later suites' plan-shape assertions
    // (suites share one JVM) — drop it before leaving the test
    emb.unpersist(false)
  }

  test("exact IVF prunes cells on a clustered corpus") {
    // three tight, well-separated direction-clusters: the query sits
    // in cluster 0, so every other cell's bound cos(theta - r) is far
    // below the k-th best and pass 2 must not add cells beyond pass 1
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Double]): Seq[Float] =
      base.map(x => (x + rnd.nextGaussian() * 0.01).toFloat).toSeq
    val bases = Seq(
      Array(10.0, 0.0, 0.0, 0.0), Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    val vecs = (0 until 90).map { i =>
      (i.toLong, jitter(bases(i % 3)))
    }.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(vecs, "vec_id", "embedding",
      k = 3, iters = 3)
    val radii = Similarity.ivfCellRadii(vecs, "embedding", centroids)
    val q = Array(1.0, 0.0, 0.0, 0.0)
    val (cells, df) = Similarity.topKCosineIvfExactWithCells(
      vecs, "vec_id", "embedding", q, 10, centroids, radii, nprobe = 1)
    assert(cells.size == 1, s"expected 1 probed cell, got $cells")
    val bf = Similarity.topKCosine(vecs, "vec_id", "embedding",
      typedLit(q.toSeq), 10).collect().map(_.getLong(0)).toSet
    assert(df.collect().map(_.getLong(0)).toSet == bf)
  }

  test("new text ops are null- and empty-safe") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType, nullable = true)))
    val weird = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "en", "plain text here"),
        org.apache.spark.sql.Row(2L, "en", ""),
        org.apache.spark.sql.Row(3L, "en", "   "),
        org.apache.spark.sql.Row(4L, "en", null))), schema)
    // chunking drops token-less docs, keeps the real one
    val chunks = TextOps.chunkDocs(weird, "doc_id", "text", 4, 3).collect()
    assert(chunks.map(_.getLong(0)).toSet == Set(1L))
    // packing likewise only counts docs with tokens (empty/null -> 0)
    val packed = TextOps.packSequences(weird, "lang", "doc_id", "text", 8)
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(packed == 4) // all four rows land in blocks (0-token docs too)
    // redact passes null through as null, empties as empties
    val red = weird.select(col("doc_id"), TextOps.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(red(4L).isEmpty && red(2L).contains(""))
    // tf-idf simply has no rows for token-less docs
    val tfidf = TextOps.topTfidfTerms(weird, "doc_id", "text", 2)
    assert(tfidf.select(col("doc_id")).distinct().count() == 1)
  }

  test("tf-idf score association stays exact where the naive form overflows (ADVICE pin)") {
    import spark.implicits._
    // billion-doc regime: the naive association forms tf * SCALE * N
    // first — 1e19 > 2^63 for the tf=10000 rows regardless of df —
    // while the shipped association divides by df before multiplying
    // by tf and stays in range; it must match BigInt arithmetic
    val n = 1000000000L
    val cases = Seq((10000L, 1000000L), (10000L, 3L), (5L, 7L), (1L, 999999999L))
    val got = cases.toDF("tf", "df")
      .withColumn("score", TextOps.tfidfScore(n))
      .orderBy(col("df")).collect().map(_.getLong(2)).toSeq
    val want = cases.sortBy(_._2).map { case (tf, df) =>
      (BigInt(tf) * ((BigInt(1000000L) * BigInt(n)) / BigInt(df))).toLong
    }
    assert(got == want)
  }

  test("rolling hash is order-sensitive, fingerprint is not spacing-sensitive") {
    val out = Seq("a b c", "c b a", "a  b  c").toDF("text")
      .select(TextOps.rollingHash(col("text")).as("rh"),
        TextOps.fingerprint(col("text")).as("fp"))
      .collect()
    assert(out(0).getLong(0) != out(1).getLong(0)) // order matters
    assert(out(0).getLong(0) == out(2).getLong(0)) // spacing doesn't
    assert(out(0).getString(1) == out(2).getString(1))
  }

  test("multimodal metadata card: real decode, md5 over the row-major " +
    "decoded RGB stream; corrupt payload yields the null-metadata row") {
    import spark.implicits._
    val media = Multimodal.synthesizeImages(Seq(4L).toDF("doc_id"), "doc_id")
    val meta = Multimodal.extractImageMetadata(media, "id", "payload")
      .collect().head
    val (w, h) = (Multimodal.imageWidth(4L), Multimodal.imageHeight(4L))
    assert(meta.getInt(1) == w && meta.getInt(2) == h)
    assert(meta.getInt(3) == w * h)
    // recompute the digest from the deterministic pixel spec — the
    // q30 oracle's contract, sans codec
    val s = (for (y <- 0 until h; x <- 0 until w) yield
      (0 to 2).map(c => Multimodal.pixelValue(4L, x, y, c)).mkString(","))
      .mkString(";")
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(meta.getString(4) == expected)
    // a raster-identical payload in a DIFFERENT container byte stream
    // must collide (content identity, not byte identity): re-encode
    // the same pixels as BMP and compare digests
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (Multimodal.pixelValue(4L, x, y, 0) << 16) |
        (Multimodal.pixelValue(4L, x, y, 1) << 8) |
        Multimodal.pixelValue(4L, x, y, 2))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val bmp = Seq((4L, bos.toByteArray)).toDF("id", "payload")
    val bmpMeta = Multimodal.extractImageMetadata(bmp, "id", "payload")
      .collect().head
    assert(bmpMeta.getString(4) == expected)
    // corrupt payload -> null metadata, not a task failure
    val bad = Seq((9L, "not an image".getBytes("UTF-8"))).toDF("id", "payload")
    val badRow = Multimodal.extractImageMetadata(bad, "id", "payload")
      .collect().head
    assert(badRow.getLong(0) == 9L && badRow.isNullAt(1) && badRow.isNullAt(4))
  }
}
