package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.GraftSession

/** The lifecycle both persisted index families share over
  * [[Artifacts]] — [[LexIndex]] (BM25) and [[IndexCorpus]] (IVF/PQ/
  * SQ8/graph): CLI session setup and dispatch, flag parsing, the
  * post-commit plan refresh, the tombstone `delete` and `compact`
  * drivers, and the audit surface (`history`, `fsck`, `export`,
  * `contention`). Every command reads through ONE
  * [[Artifacts.Snapshot]] it resolves at its start (a reader's `--at
  * V` resolves retained version V instead of the newest); a mutating
  * command's working state is its base snapshot overridden by its
  * pending segments (`base ++ pending`). A family supplies only what
  * differs — its membership artifact and default id column, its
  * compact plan, its stats step, its per-version history columns and
  * its fsck invariants — and keeps its own artifacts, flag defaults
  * and kernels.
  *
  * Every mutating command accepts `--keep-manifests N` and
  * `--vacuum-grace-ms MS` ([[Artifacts.applyRetentionFlag]]): the
  * vacuum retention window external concurrent readers pin against,
  * and the age below which vacuum presumes a never-referenced segment
  * belongs to a live CONCURRENT writer (the multi-writer contract in
  * [[Artifacts]]'s object doc).
  */
trait IndexLifecycle {

  /** Spark application name of the family's CLI session. */
  protected def appName: String

  /** The family's own CLI commands; [[main]] adds the shared ones. */
  protected def familyCommands: Seq[(String, (SparkSession, Array[String]) => Any)]

  /** The membership artifact whose ids are the index's population
    * (tombstones retract from it; it only ever grows).
    */
  protected def members: String

  /** Default `--id` column of a `delete` input. */
  protected def idColumn: String

  /** The stats step: the full map to publish for the working state
    * `work`, with the family's state-dependent artifacts re-derived
    * from it (`work`'s own map when the family has none). Runs inside
    * every delete/compact commit attempt, against the rebased working
    * state.
    */
  protected def withStats(spark: SparkSession,
      work: Artifacts.Snapshot): Map[String, Seq[String]] = work.segments

  /** The compact plan: (artifact, filter tombstones?, bucket) per
    * content artifact, in write order — see [[compactImpl]].
    */
  protected def compactPlan(base: Artifacts.Snapshot,
      thresholdPm: Option[Long]): Seq[(String, Boolean, Option[Artifacts.Bucket])]

  /** Family-specific compact folds of artifacts the tombstone kernel
    * does not apply to (identity when none).
    */
  protected def compactFolds(spark: SparkSession, base: Artifacts.Snapshot,
      pend: Map[String, Seq[String]]): Map[String, Seq[String]] = pend

  /** The family's per-version `history` columns (all long). */
  protected def historyColumns: Seq[String]

  /** One row of [[historyColumns]] values per version of `chain`. */
  protected def versionStats(spark: SparkSession, idx: String,
      chain: Seq[Long]): Seq[Seq[Long]]

  /** The family's `fsck` value-invariant names. */
  protected def invariants: Seq[String]

  /** (observed, expected) per [[invariants]] entry, in that order. */
  protected def audit(spark: SparkSession,
      snap: Artifacts.Snapshot): Seq[(Long, Long)]

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val commands = familyCommands ++ Seq(
      "delete" -> (delete _), "compact" -> (compact _),
      "history" -> (history _), "export" -> (export _),
      "fsck" -> (fsck _), "contention" -> (contention _))
    try commands.toMap.get(args.headOption.getOrElse("")) match {
      case Some(run) => run(spark, args.drop(1)) match {
        case df: org.apache.spark.sql.Dataset[_] =>
          df.show(100, truncate = false)
        case _ => ()
      }
      case None =>
        sys.error(s"usage: ${getClass.getSimpleName.stripSuffix("$")} " +
          commands.map(_._1).mkString("|") + " ...")
    } finally spark.stop()
  }

  protected def flagsOf(args: Array[String], from: Int): Map[String, String] =
    args.drop(from).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  /** Invalidate any cached plan that scans the index files. Every
    * mutating command calls this after its commit: a search may have
    * left a (query-scoped, not-yet-released) cached scan of the old
    * file set in the session's CacheManager, and a later same-shaped
    * plan would silently reuse it — reading superseded listings.
    */
  protected def refresh(spark: SparkSession, idx: String): Unit =
    spark.catalog.refreshByPath(idx)

  /** Live ids = [[members]] minus tombstones, in `work`. */
  protected def liveIds(work: Artifacts.Snapshot): DataFrame = {
    val all = work.read(members).select(col("id"))
    if (work.has("tombstones"))
      all.join(work.read("tombstones").select(col("id")),
        Seq("id"), "left_anti")
    else all
  }

  /** Retract ids from the index: `delete <indexDir> <ids.parquet>
    * [--id col]`. Deletion is a TOMBSTONE, not a rewrite: the live ids
    * among the input append to a `tombstones` artifact (O(deleted) — a
    * delete wave must never repay the build) and the stats step
    * re-derives, so searches are immediately exact (the q271/q273
    * survivor-corpus oracles). Physical space comes back at the next
    * [[compact]]. Ids not present (or already deleted) are ignored;
    * re-ingesting a tombstoned id is rejected, because the tombstone
    * set survives every compact (deletes are permanent retractions —
    * the specs exercise the resurrection rule before and after
    * compact).
    *
    * Structural command: the doomed set is the input semi-joined
    * against the LIVE membership, which any competing commit can
    * change, so every attempt re-derives from its base snapshot — one
    * pruned id scan + a wave-sized semi-join
    * ([[Artifacts.commitStructuralWithRetry]]).
    */
  def delete(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: delete <indexDir> <ids.parquet> [flags]")
    val (idx, in) = (args(0), args(1))
    val flags = flagsOf(args, 2)
    val idCol = flags.getOrElse("id", idColumn)
    GraftSession.tune(spark)
    Artifacts.applyRetentionFlag(spark, flags, idx)
    Artifacts.requireManifest(spark, idx)
    var nDel = 0L
    Artifacts.commitStructuralWithRetry(spark, idx) { base =>
      val doomed = graft.Scratch.localCheckpoint(
        spark.read.parquet(in).select(col(idCol).cast("long").as("id"))
          .distinct()
          .join(liveIds(base), Seq("id"), "left_semi"))
      // counted write (round 17): the deleted-row count rides the
      // tombstone write instead of a separate pre-write count job
      val (segT, n, _) = Artifacts.writeSegmentCounted(
        spark, idx, "tombstones", doomed)
      nDel = n
      withStats(spark,
        base ++ Map("tombstones" -> (base.segs("tombstones") :+ segT)))
    }
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    Seq("deleted" -> nDel)
  }

  /** Fold the tombstones into the content files: `compact <indexDir>
    * [--threshold <permille>]`. Each [[compactPlan]] artifact rewrites
    * through [[Artifacts.compactSegments]] (an anti-join against the
    * SMALL tombstone set), the family's [[compactFolds]] run, and the
    * rewritten segments replace what they compact via one atomic
    * manifest flip — compact never overwrites the files it reads, so
    * a crash at ANY point leaves the previous index serving
    * byte-identically (the specs drive the failpoint). What compact
    * must NOT do is forget: the tombstone set survives (distinct) as
    * the permanent retraction artifact.
    *
    * Default is a FULL compact (every planned artifact consolidates to
    * one segment); `--threshold` compacts INCREMENTALLY — a segment
    * rewrites only when its tombstone-hit density reaches the
    * threshold and cold segments keep their files byte-identical.
    * Answers are unchanged either way (q272/q273/q285).
    *
    * DELTA-REBASE commit ([[Artifacts.commitRewriteWithDeltaRetry]]):
    * the corpus-sized consolidation derives ONCE from the base
    * snapshot's segment lists; a commit landing mid-compact (an ingest
    * wave, a delete) is merged as appends-since-base on retry, with
    * only the stats step re-derived per attempt. Post-compact sizes
    * come from parquet FOOTERS (round 18), never a read-back scan.
    */
  def compact(spark: SparkSession, args: Array[String]): Seq[(String, Long)] =
    compactImpl(spark, args, crashBeforeCommit = false)

  /** `crashBeforeCommit` is the specs' failpoint: do all the segment
    * writes, then throw instead of flipping the manifest.
    */
  private[tools] def compactImpl(spark: SparkSession, args: Array[String],
      crashBeforeCommit: Boolean): Seq[(String, Long)] = {
    require(args.length >= 1, "usage: compact <indexDir> [flags]")
    val idx = args(0)
    val flags = flagsOf(args, 1)
    val thresholdPm = flags.get("threshold").map(_.toLong)
    GraftSession.tune(spark)
    Artifacts.applyRetentionFlag(spark, flags, idx)
    refresh(spark, idx)
    val base = Artifacts.snapshot(spark, idx)
    val tomb = Option.when(base.has("tombstones"))(
      graft.Scratch.cache(base.read("tombstones").select(col("id")).distinct()))
    var pend = Map.empty[String, Seq[String]]
    compactPlan(base, thresholdPm).foreach { case (name, filtered, bucket) =>
      Artifacts.compactSegments(spark, idx, name, tomb, thresholdPm,
        filtered, bucket, base.segs(name))
        .foreach(segs => pend += name -> segs)
    }
    pend = compactFolds(spark, base, pend)
    tomb.foreach { ts =>
      pend = Artifacts.withReplaced(spark, idx, pend, "tombstones", ts)
    }
    if (crashBeforeCommit)
      sys.error("injected crash: compact before manifest commit")
    Artifacts.commitRewriteWithDeltaRetry(spark, idx, base.segments, pend,
      finish = withStats(spark, _))
    Artifacts.vacuum(spark, idx)
    refresh(spark, idx)
    val after = Artifacts.snapshot(spark, idx)
    pend.keys.toSeq.sorted.map(name => name -> after.countRows(name))
  }

  /** One row per RETAINED manifest version (`history <indexDir>`):
    * the version, the family's [[versionStats]] — read through that
    * version's snapshot, exactly the state a `search --at version`
    * serves from — and the starvation-risk
    * columns (round 17): contention events that landed at the version
    * and the worst lost-attempt count among them. q304/q309 re-derive
    * every row in closed form.
    */
  def history(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 1, "usage: history <indexDir>")
    val idx = args(0)
    GraftSession.tune(spark)
    val chain = Artifacts.manifestVersions(spark, idx)
    require(chain.nonEmpty, s"$idx has no artifact manifest")
    val cont = Artifacts.contentionByVersion(spark, idx)
    val rows = chain.zip(versionStats(spark, idx, chain)).map { case (v, st) =>
      val (ev, worst) = cont.getOrElse(v, (0L, 0L))
      Row.fromSeq(v +: st :+ ev :+ worst)
    }
    val cols = "version" +: historyColumns :+ "contention_events" :+
      "max_lost_attempts"
    spark.createDataFrame(rows.asJava,
      StructType(cols.map(StructField(_, LongType, nullable = false))))
  }

  /** Index INTEGRITY audit (`fsck <indexDir>`): one row per invariant
    * the serving contract rests on, as (invariant, observed, expected)
    * — a healthy index reads observed == expected on every row.
    * `segments_missing` (manifest-listed dirs absent on disk — the
    * unrecoverable failure) and `contention_strands` (commands that
    * exhausted their retry budget) come first; the family's
    * [[invariants]] read the content artifacts, so they report
    * (-1, 0) when files are missing and `segments_missing` carries the
    * diagnosis. q307/q308 hash every row against closed-form recounts.
    */
  def fsck(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 1, "usage: fsck <indexDir>")
    val idx = args(0)
    GraftSession.tune(spark)
    val snap = Artifacts.snapshot(spark, idx)
    import spark.implicits._
    val (_, missing) = Artifacts.segmentCheck(spark, snap)
    val values =
      try audit(spark, snap)
      catch { case _: Throwable if missing > 0 => invariants.map(_ => (-1L, 0L)) }
    // strands read the telemetry files alone — computable even when
    // content artifacts are lost, so they sit outside the try
    val strands = Artifacts.contentionStrands(spark, idx)
    (("segments_missing", missing, 0L) +:
      ("contention_strands", strands, 0L) +:
      invariants.zip(values).map { case (n, (o, e)) => (n, o, e) })
      .toDF("invariant", "observed", "expected")
      .orderBy(col("invariant"))
  }

  /** Commit-contention telemetry (`contention <indexDir>`): one row per
    * recorded lost-CAS event — (command, lost_attempts,
    * landed_version; -1 = the command exhausted its retries and
    * stranded, backoff_ms). Makes write contention OBSERVABLE before a
    * structural command actually starves: a deployment whose compacts
    * routinely land at 3-4 lost attempts is one ingest wave away from
    * a strand and should widen `spark.graft.structuralRetries` or
    * schedule compacts off-peak. Bounded by construction (vacuum
    * retains the newest [[Artifacts.contentionKeep]] events).
    */
  def contention(spark: SparkSession, args: Array[String]): DataFrame = {
    require(args.length >= 1, "usage: contention <indexDir>")
    GraftSession.tune(spark)
    Artifacts.requireManifest(spark, args(0))
    Artifacts.contentionReport(spark, args(0))
  }

  /** Materialize a (possibly historical) snapshot as a brand-new
    * standalone index: `export <src> <dst> [--at V]` — see
    * [[Artifacts.exportSnapshot]]. The export then serves exactly as
    * the source did at V (q305/q306 prove a pre-delete export answers
    * the full-corpus oracles), with no retention-window coupling to
    * src.
    */
  def export(spark: SparkSession, args: Array[String]): Seq[(String, Long)] = {
    require(args.length >= 2, "usage: export <srcIndexDir> <dstIndexDir> [--at V]")
    val flags = flagsOf(args, 2)
    GraftSession.tune(spark)
    val res = Artifacts.exportSnapshot(spark, args(0), args(1),
      flags.get("at").map(_.toLong))
    refresh(spark, args(1))
    res
  }
}
