package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The segment/manifest storage layer's own contracts, unit-level —
  * the index CLIs' lifecycle specs cover the composed behavior; this
  * pins the layer primitives they build on.
  */
class ArtifactsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4, "ArtifactsSpec")

  private def freshIdx(): String =
    Files.createTempDirectory("artifacts_spec").toString + "/idx"

  test("writeSegment + commit: nothing visible before the flip; " +
    "manifest versions increase; merged overlays pending entries") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // written but uncommitted: manifest readers see nothing
    assert(Artifacts.currentManifest(spark, idx).isEmpty)
    assert(!Artifacts.exists(spark, idx, "rows") ||
      Artifacts.segmentsOf(spark, idx, "rows").isEmpty)
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))
    assert(Artifacts.currentManifest(spark, idx).map(_._1).contains(0L))
    assert(Artifacts.read(spark, idx, "rows").count() == 2L)

    // append via the pending-map helper, single flip
    val pend = Artifacts.withAppended(spark, idx, Map(), "rows",
      Seq((3L, "c")).toDF("id", "v"))
    assert(Artifacts.read(spark, idx, "rows").count() == 2L,
      "pending append leaked before commit")
    Artifacts.commit(spark, idx, Artifacts.merged(spark, idx, pend))
    assert(Artifacts.currentManifest(spark, idx).map(_._1).contains(1L))
    assert(Artifacts.read(spark, idx, "rows").count() == 3L)
    assert(Artifacts.segmentsOf(spark, idx, "rows").size == 2)
  }

  test("bucketed segments: partition column appears, normalizes to " +
    "long, and an EMPTY frame still yields a readable segment") {
    import spark.implicits._
    val idx = freshIdx()
    val b = Some(Artifacts.Bucket("tb", pmod(col("id"), lit(4)), Seq("id")))
    val seg = Artifacts.writeSegment(spark, idx, "data",
      Seq((0L, 10L), (1L, 11L), (5L, 15L)).toDF("id", "x"), b)
    Artifacts.commit(spark, idx, Map("data" -> Seq(seg)))
    val df = Artifacts.read(spark, idx, "data")
    assert(df.schema("tb").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(df.filter(col("tb") === 1L).select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 5L))

    // empty bucketed write: schema-bearing file under a synthetic
    // key=0 dir (q275's zero-doc bootstrap depends on this shape)
    val idx2 = freshIdx()
    val segE = Artifacts.writeSegment(spark, idx2, "data",
      Seq.empty[(Long, Long)].toDF("id", "x"), b)
    Artifacts.commit(spark, idx2, Map("data" -> Seq(segE)))
    val empty = Artifacts.read(spark, idx2, "data")
    assert(empty.count() == 0L)
    assert(empty.columns.toSet == Set("id", "x", "tb"))
    // and a later non-empty append unions cleanly with it
    val segF = Artifacts.writeSegment(spark, idx2, "data",
      Seq((2L, 22L)).toDF("id", "x"), b)
    Artifacts.commit(spark, idx2, Map("data" -> Seq(segE, segF)))
    assert(Artifacts.read(spark, idx2, "data").count() == 1L)
  }

  test("vacuum: unreferenced segments and stale staging dirs deleted, " +
    "referenced ones kept") {
    import spark.implicits._
    val idx = freshIdx()
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    val segB = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "b")).toDF("id", "v"))
    // only segB committed -> segA is an orphan (a crashed command)
    Artifacts.commit(spark, idx, Map("rows" -> Seq(segB)))
    try {
      // grace 0: trust no never-referenced dir (the single-writer
      // setting; the multi-writer grace behavior has its own test)
      spark.conf.set("spark.graft.vacuumGraceMs", "0")
      Artifacts.vacuum(spark, idx)
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    val onDisk = new java.io.File(s"$idx/rows").listFiles()
      .map(_.getName).filter(_.startsWith("seg")).toSet
    assert(onDisk == Set(segB), s"vacuum left $onDisk")
    assert(Artifacts.read(spark, idx, "rows")
      .select(col("id")).head().getLong(0) == 2L)
    // segment numbering continues past the vacuumed orphan
    val segC = Artifacts.writeSegment(spark, idx, "rows",
      Seq((3L, "c")).toDF("id", "v"))
    assert(segC != segA && segC != segB)
  }

  test("retention window >= 2: a reader pinned to the PREVIOUS " +
    "manifest keeps serving byte-identically through a later " +
    "commit + vacuum; window 1 reclaims it (single-writer contract)") {
    import spark.implicits._
    val idx = freshIdx()
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(segA)))       // v0
    // the external reader resolves v0 ONCE and pins its segment list
    val pinnedVer = Artifacts.manifestVersions(spark, idx).max
    val pinned = Artifacts.manifestAt(spark, idx, pinnedVer)("rows")
    val before = Artifacts.readSegs(spark, idx, "rows", pinned)
      .orderBy(col("id")).collect().toSeq

    try {
      spark.conf.set("spark.graft.keepManifests", "2")
      // a full-rewrite "compact": v1 replaces the artifact wholesale
      val segB = Artifacts.writeSegment(spark, idx, "rows",
        Seq((1L, "a")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(segB)))     // v1
      Artifacts.vacuum(spark, idx)
      // window 2: v0 and its segment survive — the pinned reader's
      // scan is byte-identical
      assert(Artifacts.manifestVersions(spark, idx) == Seq(0L, 1L))
      assert(Artifacts.readSegs(spark, idx, "rows", pinned)
        .orderBy(col("id")).collect().toSeq == before,
        "pinned reader lost its snapshot inside the retention window")
      // current readers see v1
      assert(Artifacts.read(spark, idx, "rows").count() == 1L)

      // shrink the window to 1: the next vacuum reclaims v0's files —
      // the documented single-writer-only contract
      spark.conf.set("spark.graft.keepManifests", "1")
      Artifacts.vacuum(spark, idx)
      assert(Artifacts.manifestVersions(spark, idx) == Seq(1L))
      assert(!new java.io.File(s"$idx/rows/$segA").exists(),
        "window-1 vacuum left the superseded segment")
      intercept[Exception] {
        Artifacts.manifestAt(spark, idx, pinnedVer)
      }
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("withPinned: reads inside the scope resolve the pinned " +
    "manifest; mutating primitives refuse under a pin; frames built " +
    "inside stay pinned after exit; unretained versions fail fast") {
    import spark.implicits._
    val idx = freshIdx()
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(segA)))        // v0
    try {
      spark.conf.set("spark.graft.keepManifests", "2")
      val segB = Artifacts.writeSegment(spark, idx, "rows",
        Seq((9L, "z")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(segB)))      // v1
      Artifacts.vacuum(spark, idx)

      // unpinned: v1; pinned to 0: v0's rows AND v0's version number
      assert(Artifacts.read(spark, idx, "rows").count() == 1L)
      val (verIn, oldRows) = Artifacts.withPinned(spark, idx, 0L) {
        (Artifacts.currentManifest(spark, idx).map(_._1),
          Artifacts.read(spark, idx, "rows"))
      }
      assert(verIn.contains(0L))
      // resolution happened at construction: the frame serves v0 even
      // after the scope exits (the time-travel search shape)
      assert(oldRows.orderBy(col("id")).collect().map(_.getLong(0))
        .toSeq == Seq(1L, 2L))
      // scope exited: current reads are v1 again
      assert(Artifacts.read(spark, idx, "rows").count() == 1L)

      // mutating primitives refuse under a pin — a commit derived
      // from a historical snapshot would fork the version chain
      Artifacts.withPinned(spark, idx, 0L) {
        intercept[IllegalArgumentException] {
          Artifacts.commit(spark, idx, Map("rows" -> Seq(segB)))
        }
        intercept[IllegalArgumentException] {
          Artifacts.vacuum(spark, idx)
        }
      }
      // ... and the refusal released the pin correctly (finally)
      assert(Artifacts.read(spark, idx, "rows").count() == 1L)

      // pinning a version outside the retained window fails fast
      intercept[IllegalArgumentException] {
        Artifacts.withPinned(spark, idx, 7L)(())
      }
    } finally spark.conf.set("spark.graft.keepManifests", "1")
  }

  test("vacuum deletes crash-orphaned manifest temp files") {
    import spark.implicits._
    val idx = freshIdx()
    val seg = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg)))
    // simulate a writer that died between tmp-create and rename
    val orphan = new java.io.File(s"$idx/_manifest/.m-000000000009.tmp")
    java.nio.file.Files.write(orphan.toPath, "rows\tseg=9\n".getBytes)
    assert(orphan.exists())
    // fresh temp files are presumed a live writer's (grace window) —
    // only aged ones are crash orphans
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      Artifacts.vacuum(spark, idx)
      assert(orphan.exists(), "vacuum deleted a within-grace tmp")
      spark.conf.set("spark.graft.vacuumGraceMs", "0")
      Artifacts.vacuum(spark, idx)
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    assert(!orphan.exists(), "vacuum left the crash-orphaned tmp")
    // the real manifest and its data are untouched
    assert(Artifacts.read(spark, idx, "rows").count() == 1L)
  }

  test("legacy flat dirs stay readable; mutation is refused") {
    import spark.implicits._
    val idx = freshIdx()
    Seq((7L, "x")).toDF("id", "v")
      .write.parquet(s"$idx/rows") // round-12-style flat artifact
    assert(Artifacts.exists(spark, idx, "rows"))
    assert(Artifacts.read(spark, idx, "rows").count() == 1L)
    intercept[IllegalArgumentException] {
      Artifacts.requireManifest(spark, idx)
    }
  }

  test("compactSegments: full mode consolidates + filters tombstones; " +
    "threshold mode rewrites only dense segments and reports None " +
    "when nothing crosses") {
    import spark.implicits._
    val idx = freshIdx()
    val s1 = Artifacts.writeSegment(spark, idx, "rows",
      (1L to 10L).map(i => (i, i * 10)).toDF("id", "x"))
    val s2 = Artifacts.writeSegment(spark, idx, "rows",
      (11L to 14L).map(i => (i, i * 10)).toDF("id", "x"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(s1, s2)))
    val tomb = Some(Seq(11L, 12L).toDF("id"))

    // threshold 300 permille: only s2 (2/4 dead) crosses; s1 (0/10)
    // stays byte-identical
    val inc = Artifacts.compactSegments(spark, idx, "rows", tomb,
      Some(300L), filtered = true, None)
    assert(inc.isDefined)
    assert(inc.get.head == s1, "cold segment replaced")
    assert(inc.get.size == 2 && inc.get.last != s2)
    Artifacts.commit(spark, idx, Map("rows" -> inc.get))
    assert(Artifacts.read(spark, idx, "rows").count() == 12L)

    // nothing dense any more -> None (no write at all)
    assert(Artifacts.compactSegments(spark, idx, "rows", tomb,
      Some(300L), filtered = true, None).isEmpty)

    // full mode: one segment, tombstones gone
    val fullSegs = Artifacts.compactSegments(spark, idx, "rows", tomb,
      None, filtered = true, None)
    Artifacts.commit(spark, idx, Map("rows" -> fullSegs.get))
    assert(fullSegs.get.size == 1)
    assert(Artifacts.read(spark, idx, "rows").count() == 12L)
    assert(Artifacts.read(spark, idx, "rows")
      .filter(col("id").isin(11L, 12L)).count() == 0L)
  }

  test("CAS commit: a stale-base publish LOSES (returns false, winner's " +
    "manifest intact) instead of silently replacing it; plain commit " +
    "surfaces the conflict") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    // writer A resolves its base ...
    val baseA = Artifacts.currentVersion(spark, idx)
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "A")).toDF("id", "v"))
    // ... writer B commits v1 first ...
    val segB = Artifacts.writeSegment(spark, idx, "rows",
      Seq((3L, "B")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0, segB)))    // v1
    // ... A's CAS at the stale base MUST lose, and B's manifest MUST
    // survive byte-identically (local-fs rename would have replaced it)
    assert(!Artifacts.commitAt(spark, idx, baseA,
      Map("rows" -> Seq(seg0, segA))), "stale-base CAS won")
    assert(Artifacts.currentVersion(spark, idx) == 1L)
    assert(Artifacts.read(spark, idx, "rows").select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L),
      "winner's commit was clobbered")
    // writer A re-resolves and commits cleanly on top of the winner
    Artifacts.commit(spark, idx,
      Map("rows" -> Seq(seg0, segB, segA)))                         // v2
    assert(Artifacts.currentVersion(spark, idx) == 2L)
    assert(Artifacts.read(spark, idx, "rows").count() == 3L)
  }

  test("commitAppendsWithRetry: a lost race REBASES onto the winner " +
    "(both writers' appends survive, state-dependent artifacts " +
    "re-derive) and validateRebase can abort a semantic conflict") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "base")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "A")).toDF("id", "v"))
    val segB = Artifacts.writeSegment(spark, idx, "rows",
      Seq((3L, "B")).toDF("id", "v"))

    // the finish callback doubles as the interleaving failpoint: on
    // writer A's FIRST attempt a competing writer B commits, so A's
    // CAS loses and the retry must rebase onto B's manifest
    var finishCalls = 0
    var validations = 0
    val statsSegs = Seq.newBuilder[String]
    val ver = Artifacts.commitAppendsWithRetry(spark, idx,
      deltas = Map("rows" -> Seq(segA)),
      finish = pend => {
        finishCalls += 1
        if (finishCalls == 1)
          Artifacts.commit(spark, idx,                              // v1: B wins
            Artifacts.merged(spark, idx, Map("rows" ->
              (Artifacts.segmentsOf(spark, idx, "rows") :+ segB))))
        // a state-DEPENDENT artifact derived from the working map —
        // must re-derive per attempt (the lexical stats shape)
        val n = Artifacts.readSegs(spark, idx, "rows", pend("rows")).count()
        val s = Artifacts.writeSegment(spark, idx, "stats",
          Seq(("n", n)).toDF("key", "value"))
        statsSegs += s
        pend + ("stats" -> Seq(s))
      },
      validateRebase = () => validations += 1)
    assert(ver == 2L, s"rebased commit landed at v$ver")
    assert(finishCalls == 2 && validations == 1)
    // BOTH writers' rows serve; the re-derived stats count all 3
    assert(Artifacts.read(spark, idx, "rows").select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(Artifacts.read(spark, idx, "stats").head().getLong(1) == 3L)

    // semantic conflict: validateRebase throws -> nothing published
    val segC = Artifacts.writeSegment(spark, idx, "rows",
      Seq((9L, "C")).toDF("id", "v"))
    var first = true
    intercept[Artifacts.CommitConflictException] {
      Artifacts.commitAppendsWithRetry(spark, idx,
        deltas = Map("rows" -> Seq(segC)),
        finish = pend => {
          if (first) {
            first = false
            Artifacts.commit(spark, idx,
              Artifacts.merged(spark, idx, Map.empty))              // v3
          }
          pend
        },
        validateRebase = () => throw Artifacts.CommitConflictException(
          idx, 99L, "overlapping ids"))
    }
    assert(!Artifacts.read(spark, idx, "rows").select(col("id"))
      .collect().map(_.getLong(0)).contains(9L),
      "aborted writer's segment leaked into the manifest")
  }

  test("ABA guard: a stale claim on a RECYCLED version slot (vacuumed " +
    "away under a small window) loses instead of silently winning") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    // writer A resolves base v0 ... then two faster writers commit
    // v1 and v2, and a window-1 vacuum deletes manifest files m-1
    // (and m-0) — the v1 SLOT is claimable again
    val baseA = Artifacts.currentVersion(spark, idx)
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "A")).toDF("id", "v"))
    val seg1 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((3L, "B")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0, seg1)))    // v1
    val seg2 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((4L, "C")).toDF("id", "v"))
    Artifacts.commit(spark, idx,
      Map("rows" -> Seq(seg0, seg1, seg2)))                         // v2
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      Artifacts.vacuum(spark, idx) // window 1: only m-2 retained
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    assert(Artifacts.manifestVersions(spark, idx) == Seq(2L))
    // A's stale CAS at base v0 targets the recycled m-1 slot — since
    // round 16 the vacuum BURNED the slot before freeing it, so the
    // claim loses at the pre-claim marker check (the file-link race
    // never even starts; the r15 post-claim heuristic is gone)
    assert(!Artifacts.commitAt(spark, idx, baseA,
      Map("rows" -> Seq(seg0, segA))),
      "stale claim on a recycled version slot won")
    // the withdrawn claim left no manifest behind, and the newest
    // state is untouched
    assert(Artifacts.manifestVersions(spark, idx) == Seq(2L))
    assert(Artifacts.read(spark, idx, "rows").select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
  }

  test("store matrix: link/rename-capable schemes commit; object-store " +
    "schemes refuse unless the session declares single-writer") {
    assert(Artifacts.claimClass("file") == "link")
    for (s <- Seq("hdfs", "viewfs", "webhdfs", "o3fs", "ofs"))
      assert(Artifacts.claimClass(s) == "rename", s)
    for (s <- Seq("s3", "s3a", "s3n", "gs", "wasb", "abfs", "abfss",
      "oss", "cos", "swift", "someunknownfs"))
      assert(Artifacts.claimClass(s) == "none", s)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // local paths (no URI scheme) resolve through the filesystem and
    // pass; an object-store path refuses with the actionable message
    Artifacts.assertClaimCapable(spark, freshIdx(), f)
    val e = intercept[IllegalStateException] {
      Artifacts.assertClaimCapable(spark, "s3a://bucket/idx", f)
    }
    assert(e.getMessage.contains("allowNonAtomicCommit"))
    // the explicit single-writer declaration unlocks the degrade path
    try {
      spark.conf.set("spark.graft.allowNonAtomicCommit", "true")
      Artifacts.assertClaimCapable(spark, "s3a://bucket/idx", f)
    } finally spark.conf.unset("spark.graft.allowNonAtomicCommit")
  }

  test("commitStructuralWithRetry: a lost race re-derives from the " +
    "merged state and lands; the lost attempt's fresh segments are " +
    "reclaimed; sustained losses surface as a bounded conflict") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "base")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    // derive() doubles as the interleaving failpoint: on the first
    // attempt a competitor commits AFTER the derivation, so the CAS
    // loses and the retry must re-derive from the winner's state
    var attempts = 0
    val attemptSegs = Seq.newBuilder[String]
    val ver = Artifacts.commitStructuralWithRetry(spark, idx) { base =>
      attempts += 1
      if (attempts == 1)
        Artifacts.commit(spark, idx,                                 // v1
          Artifacts.merged(spark, idx, Map("rows" ->
            (Artifacts.segmentsOf(spark, idx, "rows") :+
              Artifacts.writeSegment(spark, idx, "rows",
                Seq((7L, "W")).toDF("id", "v"))))))
      // a full rewrite derived from the (now possibly newer) state
      val n = Artifacts.read(spark, idx, "rows").count()
      val s = Artifacts.writeSegment(spark, idx, "rows",
        (0L until n).map(i => (100L + i, s"attempt$attempts"))
          .toDF("id", "v"))
      attemptSegs += s
      Map("rows" -> Seq(s))
    }
    assert(ver == 2L && attempts == 2, s"v$ver after $attempts attempts")
    // the retry saw the winner's 2 rows, so the final rewrite has 2
    assert(Artifacts.read(spark, idx, "rows").count() == 2L)
    // the lost first attempt's fresh segment was reclaimed eagerly
    val Seq(lost, kept) = attemptSegs.result()
    assert(!new java.io.File(s"$idx/rows/$lost").exists(),
      "lost structural attempt's segment leaked")
    assert(new java.io.File(s"$idx/rows/$kept").exists())

    // sustained contention: every attempt loses -> bounded conflict
    var n2 = 0
    try {
      spark.conf.set("spark.graft.structuralRetries", "3")
      intercept[Artifacts.CommitConflictException] {
        Artifacts.commitStructuralWithRetry(spark, idx) { _ =>
          n2 += 1
          Artifacts.commit(spark, idx, Artifacts.merged(spark, idx, Map.empty))
          Map("rows" -> Seq(kept))
        }
      }
    } finally spark.conf.unset("spark.graft.structuralRetries")
    assert(n2 == 3, s"retry was not bounded: $n2 attempts")
  }

  test("commitRewriteWithDeltaRetry: a lost append race keeps the " +
    "consolidated segments (no corpus re-derive) and merges the " +
    "competitor's appends-since-base; a competing structural rewrite " +
    "surfaces as a conflict") {
    import spark.implicits._
    val idx = freshIdx()
    val s1 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    val s2 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "b")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(s1, s2)))        // v0
    val baseMap = Artifacts.currentManifest(spark, idx).get._2
    // the "compact": consolidate the base's two segments into ONE
    val cons = Artifacts.writeSegment(spark, idx, "rows",
      Artifacts.readSegs(spark, idx, "rows", Seq(s1, s2)))
    // a competitor ingest APPENDS s3 and commits v1 before our publish
    val s3 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((3L, "c")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(s1, s2, s3)))    // v1
    var finishCalls = 0
    val ver = Artifacts.commitRewriteWithDeltaRetry(spark, idx, baseMap,
      Map("rows" -> Seq(cons)),
      finish = m => { finishCalls += 1; m })
    assert(ver == 2L)
    // only ONE publish attempt was needed (the retry loop rebases
    // BEFORE each attempt, so the competitor's pre-publish commit
    // costs zero lost attempts), and the final manifest is exactly
    // consolidated + the competitor's delta — no re-derive happened
    assert(finishCalls == 1)
    assert(Artifacts.segmentsOf(spark, idx, "rows").toSet ==
      Set(cons, s3),
      "delta rebase did not keep consolidation + competitor appends")
    assert(Artifacts.read(spark, idx, "rows").select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))

    // and a LIVE lost race (competitor commits between our rebase and
    // our CAS): the retry keeps the same consolidated segment
    val base2 = Artifacts.currentManifest(spark, idx).get._2
    val cons2 = Artifacts.writeSegment(spark, idx, "rows",
      Artifacts.readSegs(spark, idx, "rows", base2("rows")))
    var calls2 = 0
    val ver2 = Artifacts.commitRewriteWithDeltaRetry(spark, idx, base2,
      Map("rows" -> Seq(cons2)),
      finish = m => {
        calls2 += 1
        if (calls2 == 1) // the interleaving failpoint: v3 lands first
          Artifacts.commit(spark, idx, Artifacts.merged(spark, idx,
            Map("rows" -> (Artifacts.segmentsOf(spark, idx, "rows") :+
              Artifacts.writeSegment(spark, idx, "rows",
                Seq((4L, "d")).toDF("id", "v"))))))
        m
      })
    assert(ver2 == 4L && calls2 == 2)
    assert(Artifacts.read(spark, idx, "rows").select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    assert(Artifacts.segmentsOf(spark, idx, "rows").contains(cons2),
      "the lost race re-derived instead of delta-rebasing")

    // structural competitor: a rewrite that REMOVED a base segment
    // cannot be delta-merged — it must surface, not silently fold
    val base3 = Artifacts.currentManifest(spark, idx).get._2
    val cons3 = Artifacts.writeSegment(spark, idx, "rows",
      Artifacts.readSegs(spark, idx, "rows", base3("rows")))
    val other = Artifacts.writeSegment(spark, idx, "rows",
      Seq((9L, "x")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(other)))  // replaces!
    intercept[Artifacts.CommitConflictException] {
      Artifacts.commitRewriteWithDeltaRetry(spark, idx, base3,
        Map("rows" -> Seq(cons3)))
    }
  }

  test("index-persisted retention: a narrower second process cannot " +
    "vacuum out the window the index's committed policy protects; an " +
    "explicit flag SETS the policy (widen and narrow)") {
    import spark.implicits._
    val idx = freshIdx()
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(segA)))          // v0
    // process A states the policy via the CLI flag path
    Artifacts.applyRetentionFlag(spark,
      Map("keep-manifests" -> "2"), idx)
    assert(Artifacts.persistedRetention(spark, idx)
      .get("keepManifests").contains(2L))
    val segB = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "b")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(segA, segB)))    // v1
    // "process B": a session that never stated a policy (default
    // window 1) runs the vacuum — the INDEX policy must win
    spark.conf.set("spark.graft.keepManifests", "1")
    Artifacts.vacuum(spark, idx)
    assert(Artifacts.manifestVersions(spark, idx) == Seq(0L, 1L),
      "a narrower-configured process vacuumed the persisted window out")
    // v0 stays servable
    assert(Artifacts.manifestAt(spark, idx, 0L)("rows") == Seq(segA))
    // an EXPLICIT flag is an administrative change: narrowing back to
    // 1 takes effect (the CLI contract the LexIndexSpec window test
    // pins end to end)
    Artifacts.applyRetentionFlag(spark,
      Map("keep-manifests" -> "1"), idx)
    Artifacts.vacuum(spark, idx)
    assert(Artifacts.manifestVersions(spark, idx) == Seq(1L))
  }

  test("export dress rehearsal onto an object-store scheme: the full " +
    "write path runs against S3-class rename semantics — refused by " +
    "default, and correct end-to-end once the deployment declares " +
    "the index single-writer") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.mocks3.impl",
      classOf[MockS3FileSystem].getName)
    // a real source index on the local store
    val src = freshIdx()
    val seg = Artifacts.writeSegment(spark, src, "rows",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    Artifacts.commit(spark, src, Map("rows" -> Seq(seg)))
    // destination on the object-store scheme (mocks3: rename
    // REPLACES an existing target — the store class the claim guard
    // exists for)
    val dstDir = Files.createTempDirectory("artifacts_mocks3").toString
    val dst = s"mocks3://$dstDir/idx"
    // default: the export's commit REFUSES — no atomic claim
    // primitive on this store, so the multi-writer contract is void
    val e = intercept[IllegalStateException] {
      Artifacts.exportSnapshot(spark, src, dst, None)
    }
    assert(e.getMessage.contains("allowNonAtomicCommit"))
    try {
      // declared single-writer: the export lands end-to-end through
      // the mock store's own write path (parquet writes, segment
      // rename, check+rename manifest claim)
      spark.conf.set("spark.graft.allowNonAtomicCommit", "true")
      val dst2 = s"mocks3://$dstDir/idx2"
      val written = Artifacts.exportSnapshot(spark, src, dst2, None)
      assert(written.toMap.get("rows").contains(3L))
      assert(Artifacts.currentManifest(spark, dst2).map(_._1).contains(0L))
      assert(Artifacts.read(spark, dst2, "rows")
        .select(col("id")).collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L))
    } finally spark.conf.unset("spark.graft.allowNonAtomicCommit")
  }

  test("ABA guard, fast-successor side (round 16): a competitor " +
    "committing v+1 on top of our GENUINE win before our post-claim " +
    "check must NOT make us withdraw — the round-15 heuristic " +
    "mis-withdrew here and double-appended the deltas") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "base")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "A")).toDF("id", "v"))
    val segB = Artifacts.writeSegment(spark, idx, "rows",
      Seq((3L, "B")).toDF("id", "v"))
    // the failpoint: B reads A's JUST-CLAIMED manifest v1 and commits
    // v2 on top of it (incorporating segA) before A's post-claim
    // resolution runs; a window-1 vacuum even retires A's v1 file —
    // the worst case (A's manifest gone, higher version present)
    var fired = false
    Artifacts.commitAtPostClaimHook = (_, _) => {
      if (!fired) {
        fired = true
        Artifacts.commit(spark, idx,
          Artifacts.merged(spark, idx, Map("rows" ->
            (Artifacts.segmentsOf(spark, idx, "rows") :+ segB))))    // v2
        try {
          spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
          Artifacts.vacuum(spark, idx) // window 1: retires A's v1
        } finally spark.conf.unset("spark.graft.vacuumGraceMs")
      }
    }
    try {
      val ver = Artifacts.commitAppendsWithRetry(spark, idx,
        deltas = Map("rows" -> Seq(segA)))
      assert(ver == 1L, s"genuine win reported as v$ver")
    } finally Artifacts.commitAtPostClaimHook = (_, _) => ()
    // A's delta appears EXACTLY ONCE in the final manifest (the
    // round-15 code path would have re-appended it onto v2)
    val segs = Artifacts.segmentsOf(spark, idx, "rows")
    assert(segs.count(_ == segA) == 1, s"duplicate delta refs: $segs")
    assert(Artifacts.read(spark, idx, "rows").select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L),
      "duplicated or lost rows after the fast-successor race")
  }

  test("ABA guard, recycled-slot TOCTOU side: a foreign burn marker " +
    "appearing inside the check-then-claim window withdraws the " +
    "forged manifest and reports the loss") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    val segX = Artifacts.writeSegment(spark, idx, "rows",
      Seq((9L, "X")).toDF("id", "v"))
    // the failpoint simulates the vacuum interleaving commitAt cannot
    // see: the slot's previous occupant was burned (FOREIGN nonce
    // marker) + freed between our pre-check and our claim, and a
    // higher manifest exists (recycling implies one)
    var fired = false
    Artifacts.commitAtPostClaimHook = (_, ver) => {
      if (!fired) {
        fired = true
        val mdir = new java.io.File(s"$idx/_manifest")
        java.nio.file.Files.write(
          new java.io.File(mdir, f"g-$ver%012d.tsv").toPath,
          "previous-occupant-nonce\n".getBytes)
        java.nio.file.Files.write(
          new java.io.File(mdir, f"m-${ver + 1}%012d.tsv").toPath,
          s"#nonce\tcompetitor\nrows\t$seg0\n".getBytes)
      }
    }
    try {
      assert(!Artifacts.commitAt(spark, idx, 0L,
        Map("rows" -> Seq(seg0, segX))),
        "claim on a freshly-recycled slot won")
    } finally Artifacts.commitAtPostClaimHook = (_, _) => ()
    // the forged mid-chain file was withdrawn
    assert(!new java.io.File(s"$idx/_manifest/m-000000000001.tsv")
      .exists(), "forged manifest left in the chain")
  }

  test("burned slots: vacuum leaves nonce markers before freeing " +
    "manifest files; stale claims lose PRE-claim; aged markers " +
    "collapse into the low-water mark and claims below it still lose") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    val baseA = Artifacts.currentVersion(spark, idx)
    val seg1 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((2L, "b")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0, seg1)))    // v1
    val seg2 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((3L, "c")).toDF("id", "v"))
    Artifacts.commit(spark, idx,
      Map("rows" -> Seq(seg0, seg1, seg2)))                         // v2
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
      Artifacts.vacuum(spark, idx) // window 1: evicts + BURNS v0, v1
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    val mdir = new java.io.File(s"$idx/_manifest")
    assert(mdir.listFiles().map(_.getName).count(_.startsWith("g-")) == 2,
      "vacuum did not burn the evicted slots")
    // stale claim on the burned v1 slot: loses before claiming (no
    // manifest file is ever created)
    val segA = Artifacts.writeSegment(spark, idx, "rows",
      Seq((7L, "A")).toDF("id", "v"))
    assert(!Artifacts.commitAt(spark, idx, baseA,
      Map("rows" -> Seq(seg0, segA))))
    assert(Artifacts.manifestVersions(spark, idx) == Seq(2L))
    // grace 0: the markers are aged — the next vacuum collapses them
    // into the low-water file and stale claims STILL lose
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "0")
      Artifacts.vacuum(spark, idx)
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    val after = mdir.listFiles().map(_.getName)
    assert(!after.exists(_.startsWith("g-")),
      "aged markers were not collapsed")
    assert(after.count(n => n.startsWith("w-") && n.endsWith(".tsv")) == 1,
      s"low-water file missing: ${after.toSeq}")
    assert(!Artifacts.commitAt(spark, idx, baseA,
      Map("rows" -> Seq(seg0, segA))),
      "stale claim below the low-water mark won")
    assert(Artifacts.manifestVersions(spark, idx) == Seq(2L))
  }

  test("collapsed-marker TOCTOU: a low-water fold landing inside the " +
    "claim window withdraws when our file survives, and SURFACES a " +
    "conflict (never a silent answer) when it does not") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    val mdir = new java.io.File(s"$idx/_manifest")
    // case 1: the fold belonged to a PREVIOUS occupant — our claimed
    // file is intact, so the slot was recycled: withdraw + lose
    var phase = 0
    Artifacts.commitAtPostClaimHook = (_, ver) => {
      java.nio.file.Files.write(
        new java.io.File(mdir, "w-injected.tsv").toPath,
        s"burned\t$ver\n".getBytes)
      if (phase == 1) // case 2: a racing vacuum also reaped our file
        new java.io.File(mdir, f"m-$ver%012d.tsv").delete()
    }
    try {
      assert(!Artifacts.commitAt(spark, idx, 0L,
        Map("rows" -> Seq(seg0))),
        "claim below a freshly-collapsed low-water mark won")
      assert(!new java.io.File(mdir, "m-000000000001.tsv").exists(),
        "forged manifest left behind")
      phase = 1
      val e = intercept[Artifacts.CommitConflictException] {
        Artifacts.commitAt(spark, idx, 0L, Map("rows" -> Seq(seg0)))
      }
      assert(e.getMessage.contains("ambiguous"))
    } finally {
      Artifacts.commitAtPostClaimHook = (_, _) => ()
      new java.io.File(mdir, "w-injected.tsv").delete()
    }
  }

  test("collapsed-marker ABA (round 17): vacuum classifies a no-marker " +
    "evictee at/below the low-water mark as FORGED — no fresh marker " +
    "minted with the stale claimant's own nonce, its pending segment " +
    "not graveyarded; the claimant surfaces a conflict, never a " +
    "silent win") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v1
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v2
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "0")
      Artifacts.vacuum(spark, idx) // burns + evicts v0, v1
      Artifacts.vacuum(spark, idx) // collapses g-0, g-1 -> low-water 1
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    val mdir = new java.io.File(s"$idx/_manifest")
    assert(!mdir.listFiles().map(_.getName).exists(_.startsWith("g-")))
    // a stale claimant wins the collapsed-burned slot 1; a competing
    // vacuum lands inside its claim window and evicts the forged file
    val segX = Artifacts.writeSegment(spark, idx, "rows",
      Seq((9L, "X")).toDF("id", "v"))
    var fired = false
    Artifacts.commitAtPostClaimHook = (_, _) => {
      if (!fired) {
        fired = true
        try {
          spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
          Artifacts.vacuum(spark, idx)
        } finally spark.conf.unset("spark.graft.vacuumGraceMs")
      }
    }
    try {
      val e = intercept[Artifacts.CommitConflictException] {
        Artifacts.commitAt(spark, idx, 0L, Map("rows" -> Seq(seg0, segX)))
      }
      assert(e.getMessage.contains("ambiguous"))
    } finally Artifacts.commitAtPostClaimHook = (_, _) => ()
    // pre-fix, this vacuum minted g-1 with the CLAIMANT'S OWN nonce
    // (its post-claim check then saw itself and returned true — a
    // silently lost commit) and graveyarded segX despite the grace
    val after = mdir.listFiles().map(_.getName)
    assert(!after.exists(_.startsWith("g-")),
      s"fresh marker minted for the forged evictee: ${after.toSeq}")
    assert(!after.contains("m-000000000001.tsv"), "forged file kept")
    assert(new java.io.File(s"$idx/rows/$segX").exists(),
      "the stale claimant's pending segment was graveyarded")
  }

  test("persistRetention: crash-atomic write (no bare temp visible), " +
    "malformed settings lines are skipped not thrown, and the " +
    "racing-SET max-merge resurrection is the documented contract") {
    import spark.implicits._
    val idx = freshIdx()
    val seg = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "a")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg)))
    Artifacts.persistRetention(spark, idx, Map("keepManifests" -> 2L))
    val mdir = new java.io.File(s"$idx/_manifest")
    assert(!mdir.listFiles().map(_.getName)
      .exists(n => n.startsWith(".s-") && n.endsWith(".tmp")),
      "persistRetention left a temp file")
    // a pre-round-16 writer crashed mid-write: truncated last line —
    // every retention read must keep working (skip, not MatchError)
    java.nio.file.Files.write(
      new java.io.File(mdir, "s-deadbeef.tsv").toPath,
      "vacuumGraceMs\t5\nkeepMani".getBytes)
    assert(Artifacts.persistedRetention(spark, idx) ==
      Map("keepManifests" -> 2L, "vacuumGraceMs" -> 5L))
    Artifacts.vacuum(spark, idx) // must not throw either
    // RACING-SET CONTRACT (pinned as documented): an explicit
    // narrowing (2 -> 1) is resurrected by a concurrent writer's
    // merged file still carrying the old value — max-merge is the
    // deliberate safe direction (see persistRetention's scaladoc)
    Artifacts.persistRetention(spark, idx, Map("keepManifests" -> 1L))
    assert(Artifacts.persistedRetention(spark, idx)
      .get("keepManifests").contains(1L))
    java.nio.file.Files.write(
      new java.io.File(mdir, "s-racer.tsv").toPath,
      "keepManifests\t2\n".getBytes)
    assert(Artifacts.persistedRetention(spark, idx)
      .get("keepManifests").contains(2L),
      "racing SET did not max-merge (contract changed — update the doc)")
  }

  test("commitReplaceWithRetry: a lost race retries METADATA-ONLY — " +
    "the pend segments are reused, the competitor's appends to other " +
    "artifacts carry over, and finish-created segments reclaim") {
    import spark.implicits._
    val idx = freshIdx()
    val seg0 = Artifacts.writeSegment(spark, idx, "rows",
      Seq((1L, "base")).toDF("id", "v"))
    Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))          // v0
    // the replace-style pend (a graph build's edges), derived ONCE
    val segG = Artifacts.writeSegment(spark, idx, "graph",
      Seq((1L, 2L)).toDF("id", "nbr"))
    var calls = 0
    val statsSegs = Seq.newBuilder[String]
    val ver = Artifacts.commitReplaceWithRetry(spark, idx,
      Map("graph" -> Seq(segG)),
      finish = m => {
        calls += 1
        if (calls == 1) // failpoint: an ingest appends + commits v1
          Artifacts.commit(spark, idx,
            Artifacts.merged(spark, idx, Map("rows" ->
              (Artifacts.segmentsOf(spark, idx, "rows") :+
                Artifacts.writeSegment(spark, idx, "rows",
                  Seq((2L, "W")).toDF("id", "v"))))))
        val s = Artifacts.writeSegment(spark, idx, "meta",
          Seq(("k", calls.toLong)).toDF("key", "value"))
        statsSegs += s
        m + ("meta" -> Seq(s))
      })
    assert(ver == 2L && calls == 2, s"v$ver after $calls finishes")
    // the graph pend segment was NOT re-derived, the competitor's
    // append survived, and the lost attempt's meta segment was
    // reclaimed eagerly (its segment NUMBER is even reused by the
    // retry — the reclaim runs before the next attempt's write)
    assert(Artifacts.segmentsOf(spark, idx, "graph") == Seq(segG))
    assert(Artifacts.read(spark, idx, "rows").count() == 2L)
    assert(statsSegs.result().size == 2)
    assert(Artifacts.segmentsOf(spark, idx, "meta").size == 1)
    assert(Artifacts.read(spark, idx, "meta").head().getLong(1) == 2L,
      "the serving meta segment is not the WINNING attempt's")
  }

  test("cput claim class: the conditional-create attestation upgrades " +
    "S3-class stores to full multi-writer commits — racing writers " +
    "get exactly one winner per version slot on mocks3") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.mocks3.impl",
      classOf[MockS3FileSystem].getName)
    // the FS cache keys on scheme, not conf — disable it so this test
    // gets an instance that read conditional.enabled (the export test
    // above may have cached a non-conditional one)
    spark.sparkContext.hadoopConfiguration.setBoolean(
      "fs.mocks3.impl.disable.cache", true)
    spark.sparkContext.hadoopConfiguration.setBoolean(
      "fs.mocks3.conditional.enabled", true)
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    // matrix: without the attestation S3-class is "none" (refused);
    // with it, "cput" (accepted, no single-writer declaration needed)
    assert(Artifacts.claimClassFor(spark, "s3a://b/i", f) == "none")
    try {
      spark.conf.set("spark.graft.conditionalCreate", "true")
      assert(Artifacts.claimClassFor(spark, "s3a://b/i", f) == "cput")
      val dstDir = Files.createTempDirectory("artifacts_cput").toString
      val idx = s"mocks3://$dstDir/idx"
      // the capability self-test (round 17) runs against the REAL
      // store on the first capability assertion and passes on the
      // honest conditional mode
      Artifacts.resetClaimCapabilityCache()
      Artifacts.assertClaimCapable(spark, idx,
        new org.apache.hadoop.fs.Path(idx).getFileSystem(
          spark.sparkContext.hadoopConfiguration))
      val seg0 = Artifacts.writeSegment(spark, idx, "rows",
        Seq((1L, "a")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))        // v0
      // a stale-base CAS loses without clobbering the winner
      val baseA = Artifacts.currentVersion(spark, idx)
      val segA = Artifacts.writeSegment(spark, idx, "rows",
        Seq((2L, "A")).toDF("id", "v"))
      val segB = Artifacts.writeSegment(spark, idx, "rows",
        Seq((3L, "B")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0, segB)))  // v1
      assert(!Artifacts.commitAt(spark, idx, baseA,
        Map("rows" -> Seq(seg0, segA))), "stale cput claim won")
      assert(Artifacts.read(spark, idx, "rows").select(col("id"))
        .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
      // two threads race the SAME fresh slot: exactly one wins
      import java.util.concurrent.{CountDownLatch, Executors}
      val base2 = Artifacts.currentVersion(spark, idx)
      val segs2 = (0 until 2).map(t =>
        Artifacts.writeSegment(spark, idx, "rows",
          Seq((10L + t, s"t$t")).toDF("id", "v")))
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      val wins = segs2.map { s =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            Artifacts.commitAt(spark, idx, base2, Map("rows" ->
              (Artifacts.manifestAt(spark, idx, base2)("rows") :+ s)))
          }
        })
      }
      gate.countDown()
      val results = wins.map(_.get())
      pool.shutdown()
      assert(results.count(identity) == 1,
        s"cput race had ${results.count(identity)} winners")
      // the full rebase loop also lands both writers sequentially
      assert(Artifacts.commitAppendsWithRetry(spark, idx,
        Map("rows" -> segs2.filterNot(s => Artifacts
          .segmentsOf(spark, idx, "rows").contains(s)).take(1)))
        == base2 + 2)
    } finally spark.conf.unset("spark.graft.conditionalCreate")
  }

  test("cput attestation is VERIFIED, not trusted (round 17): a " +
    "mis-attested store — conditional create silently overwrites — " +
    "fails the bootstrap self-test and commits are refused before any " +
    "update can be lost") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    hconf.setBoolean("fs.mocks3.impl.disable.cache", true)
    hconf.setBoolean("fs.mocks3.conditional.liar", true)
    Artifacts.resetClaimCapabilityCache()
    try {
      spark.conf.set("spark.graft.conditionalCreate", "true")
      val dstDir = Files.createTempDirectory("artifacts_liar").toString
      val idx = s"mocks3://$dstDir/idx"
      val seg0 = Artifacts.writeSegment(spark, idx, "rows",
        Seq((1L, "a")).toDF("id", "v"))
      val e = intercept[IllegalStateException] {
        Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))
      }
      assert(e.getMessage.contains("self-test"),
        s"wrong refusal: ${e.getMessage}")
      // nothing was published
      assert(Artifacts.currentManifest(spark, idx).isEmpty)
      // the verdict is cached: a second commit refuses without
      // re-probing (same session, same store)
      intercept[IllegalStateException] {
        Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))
      }
    } finally {
      spark.conf.unset("spark.graft.conditionalCreate")
      hconf.setBoolean("fs.mocks3.conditional.liar", false)
      Artifacts.resetClaimCapabilityCache()
    }
  }

  test("rename claim class raced like cput (round 17): on an " +
    "HDFS-semantics store (rename refuses an existing destination, " +
    "no hard links) two writers racing one version slot get exactly " +
    "one winner, and a stale claim loses without clobbering it") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.mockhdfs.impl", classOf[MockHdfsFileSystem].getName)
    hconf.setBoolean("fs.mockhdfs.impl.disable.cache", true)
    try {
      // the documented extension point for rename-atomic stores the
      // static matrix doesn't know
      spark.conf.set("spark.graft.renameAtomicSchemes", "mockhdfs")
      val f = new org.apache.hadoop.fs.Path("mockhdfs:///x")
        .getFileSystem(hconf)
      assert(Artifacts.claimClassFor(spark, "mockhdfs:///x", f) == "rename")
      val dstDir = Files.createTempDirectory("artifacts_hdfs").toString
      val idx = s"mockhdfs://$dstDir/idx"
      val seg0 = Artifacts.writeSegment(spark, idx, "rows",
        Seq((1L, "a")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))        // v0
      // stale-base claim loses; the winner's manifest survives
      val segW = Artifacts.writeSegment(spark, idx, "rows",
        Seq((2L, "W")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0, segW)))  // v1
      val segL = Artifacts.writeSegment(spark, idx, "rows",
        Seq((3L, "L")).toDF("id", "v"))
      assert(!Artifacts.commitAt(spark, idx, 0L,
        Map("rows" -> Seq(seg0, segL))), "stale rename claim won")
      assert(Artifacts.read(spark, idx, "rows").select(col("id"))
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // live race: two threads, one slot, exactly one winner
      import java.util.concurrent.{CountDownLatch, Executors}
      val base2 = Artifacts.currentVersion(spark, idx)
      val segs2 = (0 until 2).map(t =>
        Artifacts.writeSegment(spark, idx, "rows",
          Seq((10L + t, s"t$t")).toDF("id", "v")))
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      val wins = segs2.map { s =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            Artifacts.commitAt(spark, idx, base2, Map("rows" ->
              (Artifacts.manifestAt(spark, idx, base2)("rows") :+ s)))
          }
        })
      }
      gate.countDown()
      val results = wins.map(_.get())
      pool.shutdown()
      assert(results.count(identity) == 1,
        s"rename race had ${results.count(identity)} winners")
      assert(Artifacts.currentVersion(spark, idx) == base2 + 1)
    } finally spark.conf.unset("spark.graft.renameAtomicSchemes")
  }

  test("cput deferred precondition (real-store close-time semantics): " +
    "a lost race surfaces as an IOException at close() and must NOT " +
    "delete the competitor's committed manifest; racing writers still " +
    "get exactly one winner") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    hconf.setBoolean("fs.mocks3.impl.disable.cache", true)
    hconf.setBoolean("fs.mocks3.conditional.deferred", true)
    try {
      spark.conf.set("spark.graft.conditionalCreate", "true")
      val dstDir = Files.createTempDirectory("artifacts_cput_def").toString
      val idx = s"mocks3://$dstDir/idx"
      val seg0 = Artifacts.writeSegment(spark, idx, "rows",
        Seq((1L, "a")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))        // v0
      // writer W commits v1; a STALE claimant then attempts the same
      // slot — on a close-time-conditional store its create() succeeds
      // and the loss surfaces at close(), with W's committed object at
      // dst (the round-16 ADVICE reproduction: the pre-fix path
      // deleted W's manifest here and broke the version chain)
      val segW = Artifacts.writeSegment(spark, idx, "rows",
        Seq((2L, "W")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0, segW)))  // v1
      val segL = Artifacts.writeSegment(spark, idx, "rows",
        Seq((3L, "L")).toDF("id", "v"))
      assert(!Artifacts.commitAt(spark, idx, 0L,
        Map("rows" -> Seq(seg0, segL))), "stale deferred-cput claim won")
      assert(Artifacts.currentVersion(spark, idx) == 1L,
        "the winner's manifest was destroyed by the loser's close failure")
      assert(Artifacts.read(spark, idx, "rows").select(col("id"))
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // live race on one fresh slot: exactly one winner; the loser's
      // close-time 412 resolves to a clean false (no exception escapes,
      // nothing withdrawn)
      import java.util.concurrent.{CountDownLatch, Executors}
      val base2 = Artifacts.currentVersion(spark, idx)
      val segs2 = (0 until 2).map(t =>
        Artifacts.writeSegment(spark, idx, "rows",
          Seq((10L + t, s"t$t")).toDF("id", "v")))
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      val wins = segs2.map { s =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            gate.await()
            Artifacts.commitAt(spark, idx, base2, Map("rows" ->
              (Artifacts.manifestAt(spark, idx, base2)("rows") :+ s)))
          }
        })
      }
      gate.countDown()
      val results = wins.map(_.get())
      pool.shutdown()
      assert(results.count(identity) == 1,
        s"deferred-cput race had ${results.count(identity)} winners")
      assert(Artifacts.currentVersion(spark, idx) == base2 + 1)
    } finally {
      spark.conf.unset("spark.graft.conditionalCreate")
      hconf.setBoolean("fs.mocks3.conditional.deferred", false)
    }
  }

  test("writer-stamped grace age (round 17): on a store with synthetic " +
    "EPOCH mtimes an in-flight uncommitted segment SURVIVES a " +
    "generous-grace vacuum via its .segclaim writer stamp (the " +
    "mtime-trusting check mis-reclaimed it), and a stamp-aged orphan " +
    "still reclaims") {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    hconf.setBoolean("fs.mocks3.impl.disable.cache", true)
    hconf.setBoolean("fs.mocks3.mtime.skew", true)
    try {
      spark.conf.set("spark.graft.allowNonAtomicCommit", "true")
      val dstDir = Files.createTempDirectory("artifacts_skew").toString
      val idx = s"mocks3://$dstDir/idx"
      val seg0 = Artifacts.writeSegment(spark, idx, "rows",
        Seq((1L, "a")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))
      // a concurrent writer's IN-FLIGHT segment: written, uncommitted
      val segP = Artifacts.writeSegment(spark, idx, "rows",
        Seq((2L, "p")).toDF("id", "v"))
      try {
        spark.conf.set("spark.graft.vacuumGraceMs", "3600000")
        Artifacts.vacuum(spark, idx)
      } finally spark.conf.unset("spark.graft.vacuumGraceMs")
      // every mtime on this store reads as epoch: the pre-round-17
      // mtime-aged check reclaimed segP here; the writer stamp (a
      // fresh real clock) keeps it
      assert(new java.io.File(s"$dstDir/idx/rows/$segP").exists(),
        "in-flight segment mis-reclaimed under synthetic mtimes")
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0, segP)))
      assert(Artifacts.read(spark, idx, "rows").select(col("id"))
        .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
      // a stamp-AGED orphan still reclaims (grace 0), claim included
      val segO = Artifacts.writeSegment(spark, idx, "rows",
        Seq((9L, "o")).toDF("id", "v"))
      try {
        spark.conf.set("spark.graft.vacuumGraceMs", "0")
        Artifacts.vacuum(spark, idx)
      } finally spark.conf.unset("spark.graft.vacuumGraceMs")
      assert(!new java.io.File(s"$dstDir/idx/rows/$segO").exists(),
        "stamp-aged orphan survived a grace-0 vacuum")
      assert(!new java.io.File(s"$dstDir/idx/rows").listFiles()
        .map(_.getName).exists(_.startsWith(".segclaim-")),
        "orphan claims survived a grace-0 vacuum")
    } finally {
      spark.conf.unset("spark.graft.allowNonAtomicCommit")
      hconf.setBoolean("fs.mocks3.mtime.skew", false)
    }
  }

  test("contention telemetry: a landed-after-losses structural commit " +
    "records (command, lost_attempts, landed_version); a clean index " +
    "reports no events") {
    import spark.implicits._
    def events(idx: String): Set[(String, Long, Long)] =
      Artifacts.contentionReport(spark, idx).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // every rebase policy keeps its own contention kind: (a) a commit
    // that lands after one lost race, (b) a strand once the budget
    // (50 for appends, structuralRetries for the rest) runs out
    try {
      spark.conf.set("spark.graft.retryBackoffMs", "0")
      spark.conf.set("spark.graft.structuralRetries", "3")
      for ((kind, budget) <- Seq("append" -> 50L, "structural" -> 3L,
        "rewrite" -> 3L, "replace" -> 3L)) {
        val idx = freshIdx()
        val seg0 = Artifacts.writeSegment(spark, idx, "rows",
          Seq((1L, "base")).toDF("id", "v"))
        Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))      // v0
        assert(Artifacts.contentionReport(spark, idx).count() == 0L)
        // the policy callback doubles as the failpoint: while races
        // remain, a competitor commits inside the attempt and its CAS
        // loses
        var races = 0L
        def raced(m: Map[String, Seq[String]]) = {
          if (races > 0) {
            races -= 1
            Artifacts.commit(spark, idx, Artifacts.merged(spark, idx, Map.empty))
          }
          m
        }
        def run(): Long = kind match {
          case "append" =>
            Artifacts.commitAppendsWithRetry(spark, idx, Map.empty, raced)
          case "structural" =>
            Artifacts.commitStructuralWithRetry(spark, idx)(_ =>
              raced(Map("rows" -> Seq(seg0))))
          case "rewrite" =>
            Artifacts.commitRewriteWithDeltaRetry(spark, idx, Map.empty,
              Map.empty, raced)
          case "replace" =>
            Artifacts.commitReplaceWithRetry(spark, idx, Map.empty, raced)
        }
        races = 1 // loses v1 to the competitor, lands v2
        assert(run() == 2L, kind)
        assert(events(idx) == Set((kind, 1L, 2L)), s"$kind: ${events(idx)}")
        races = Long.MaxValue // every attempt loses
        intercept[Artifacts.CommitConflictException](run())
        assert(events(idx) == Set((kind, 1L, 2L), (kind, budget, -1L)),
          s"$kind: ${events(idx)}")
        // telemetry survives a vacuum (bounded, not purged)
        Artifacts.vacuum(spark, idx)
        assert(Artifacts.contentionReport(spark, idx).count() == 2L)
      }
    } finally {
      spark.conf.unset("spark.graft.retryBackoffMs")
      spark.conf.unset("spark.graft.structuralRetries")
    }
  }

  test("readSegs memo never outlives a deleted segment: a vacuumed " +
    "segment number re-claimed by a later write reads the NEW rows") {
    import spark.implicits._
    val idx = freshIdx()
    try {
      spark.conf.set("spark.graft.keepManifests", "1")
      val seg = Artifacts.writeSegment(spark, idx, "rows",
        Seq((1L, "old")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg)))         // v0
      Artifacts.vacuum(spark, idx) // committed: the claim sidecar retires
      assert(Artifacts.read(spark, idx, "rows").count() == 1L)      // memoized
      val segX = Artifacts.writeSegment(spark, idx, "other",
        Seq((0L, "x")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("other" -> Seq(segX)))       // v1
      Artifacts.vacuum(spark, idx) // seg leaves retention: dir deleted
      assert(!new java.io.File(s"$idx/rows/$seg").exists())
      val again = Artifacts.writeSegment(spark, idx, "rows",
        Seq((2L, "new"), (3L, "new")).toDF("id", "v"))
      assert(again == seg, s"segment number not re-claimed: $again vs $seg")
      Artifacts.commit(spark, idx,
        Map("other" -> Seq(segX), "rows" -> Seq(again)))            // v2
      assert(Artifacts.read(spark, idx, "rows").select(col("id"))
        .collect().map(_.getLong(0)).toSet == Set(2L, 3L),
        "the memo served the vacuumed segment's dead frame")
    } finally spark.conf.unset("spark.graft.keepManifests")
  }

  test("retry backoff (round 17): the jitter schedule is deterministic " +
    "given the seed, bounded by the exponential cap, and disabled at " +
    "base 0; a 4-writer commit storm with backoff engages the sleeper " +
    "and loses no more attempts than the zero-backoff lockstep " +
    "baseline") {
    import spark.implicits._
    // the schedule itself: deterministic given (seed, attempt), inside
    // [1, min(base * 2^(attempt-1), 2000)], off at base 0
    val s1 = (1 to 10).map(a => Artifacts.backoffMs(spark, 42L, a))
    val s2 = (1 to 10).map(a => Artifacts.backoffMs(spark, 42L, a))
    assert(s1 == s2, "schedule not deterministic given the seed")
    s1.zipWithIndex.foreach { case (ms, i) =>
      val cap = math.min(25L << math.min(i, 6), 2000L)
      assert(ms >= 1L && ms <= cap, s"attempt ${i + 1}: $ms outside [1,$cap]")
    }
    assert(s1 != (1 to 10).map(a => Artifacts.backoffMs(spark, 43L, a)),
      "different writers got identical schedules (no desync)")
    try {
      spark.conf.set("spark.graft.retryBackoffMs", "0")
      assert(Artifacts.backoffMs(spark, 42L, 3) == 0L)
    } finally spark.conf.unset("spark.graft.retryBackoffMs")

    // storm differential: 4 writers x 3 appends each racing the CAS
    // with pre-written segments (loop body = manifest read + CAS, so
    // contention is maximal); total lost attempts from the telemetry
    def storm(base: Long): (Long, Long) = {
      val idx = freshIdx()
      val seg0 = Artifacts.writeSegment(spark, idx, "rows",
        Seq((0L, "base")).toDF("id", "v"))
      Artifacts.commit(spark, idx, Map("rows" -> Seq(seg0)))
      val segs = (0 until 12).map(i =>
        Artifacts.writeSegment(spark, idx, "rows",
          Seq((100L + i, s"s$i")).toDF("id", "v")))
      // bumped from four pool threads: a plain captured var loses
      // increments under contention
      val sleeps = new java.util.concurrent.atomic.AtomicLong()
      val prevSleeper = Artifacts.backoffSleeper
      Artifacts.backoffSleeper = ms => {
        sleeps.incrementAndGet(); Thread.sleep(ms)
      }
      import java.util.concurrent.{CountDownLatch, Executors}
      val pool = Executors.newFixedThreadPool(4)
      val gate = new CountDownLatch(1)
      try {
        spark.conf.set("spark.graft.retryBackoffMs", base.toString)
        val fs = (0 until 4).map { t =>
          pool.submit(new Runnable {
            def run(): Unit = {
              gate.await()
              for (i <- 0 until 3)
                Artifacts.commitAppendsWithRetry(spark, idx,
                  Map("rows" -> Seq(segs(t * 3 + i))))
            }
          })
        }
        gate.countDown()
        fs.foreach(_.get())
      } finally {
        spark.conf.unset("spark.graft.retryBackoffMs")
        Artifacts.backoffSleeper = prevSleeper
        pool.shutdown()
      }
      assert(Artifacts.currentVersion(spark, idx) == 12L,
        "not all 12 storm commits landed")
      val lost = Artifacts.contentionReport(spark, idx)
        .agg(sum(col("lost_attempts"))).head().getLong(0)
      (lost, sleeps.get)
    }
    // real races: compare best-of-2 per arm so one unlucky scheduling
    // window cannot flip the differential
    val zeroRuns = Seq(storm(0L), storm(0L))
    val jitRuns = Seq(storm(25L), storm(25L))
    val lostZero = zeroRuns.map(_._1).min
    val lostJit = jitRuns.map(_._1).min
    assert(zeroRuns.forall(_._2 == 0L), "sleeper engaged at base 0")
    assert(jitRuns.map(_._2).sum >= jitRuns.map(_._1).sum,
      "lost jittered attempts did not engage the sleeper")
    assert(lostJit <= lostZero,
      s"backoff lost MORE attempts ($lostJit) than lockstep ($lostZero)")
  }

  test("concurrent writeSegment: two threads never claim the same " +
    "segment dir; vacuum's grace protects a not-yet-committed segment") {
    import spark.implicits._
    val idx = freshIdx()
    // two threads race 8 segment writes each into one artifact
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fs = (0 until 2).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          gate.await()
          for (i <- 0 until 8)
            names.add(Artifacts.writeSegment(spark, idx, "rows",
              Seq((t * 100L + i, s"w$t")).toDF("id", "v")))
        }
      })
    }
    gate.countDown()
    fs.foreach(_.get())
    pool.shutdown()
    import scala.jdk.CollectionConverters._
    val all = names.asScala.toSeq
    assert(all.size == 16 && all.distinct.size == 16,
      s"duplicate segment claims: $all")

    // commit only the first 15: the 16th is "another writer's pending
    // segment" — a default-grace vacuum must NOT reclaim it, a grace-0
    // vacuum does
    val (committed, pending) = (all.sorted.init, all.sorted.last)
    Artifacts.commit(spark, idx, Map("rows" -> committed))
    try {
      spark.conf.set("spark.graft.vacuumGraceMs", "3600000") // the default
      Artifacts.vacuum(spark, idx)
      assert(new java.io.File(s"$idx/rows/$pending").exists(),
        "vacuum reclaimed a within-grace pending segment")
      spark.conf.set("spark.graft.vacuumGraceMs", "0")
      Artifacts.vacuum(spark, idx)
    } finally spark.conf.unset("spark.graft.vacuumGraceMs")
    assert(!new java.io.File(s"$idx/rows/$pending").exists(),
      "grace-0 vacuum left the orphan")
    assert(Artifacts.read(spark, idx, "rows").count() == 15L)
  }
}
