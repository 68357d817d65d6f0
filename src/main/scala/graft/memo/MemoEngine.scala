package graft.memo

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.filter.FilterAlgebra
import graft.functions.GraftFunctions._
import graft.functions.TopKAggregator.ScoreOrder
import graft.functions.VectorKernels
import graft.ops.ArtifactMeta

/** The user-facing memo engine: save / recall / analyze / reindex / clean
  * over a versioned Parquet store — the Spark-first equivalent of the
  * reference CLI's `<base>.yaml` + `<base>.memo` pair
  * (/root/reference/memo_cli.py:47-58, SKILL.md:8-21).
  *
  * Store layout (`basePath/`):
  *   CURRENT              — text file holding the live version number
  *   v<N>/records         — parquet (id, body, metadata MAP<STRING,STRING>)
  *   v<N>/index           — parquet (id, embedding ARRAY<FLOAT>), derived
  *   v<N>/records.manifest / index.manifest — the segment dirs this version
  *                          reads: just its own dir for a snapshot version,
  *                          prior segments + its own for an append delta
  *   .staging/<token>     — in-flight commit preparation (promoted to v<N>
  *                          by one atomic rename; crashed leftovers are
  *                          reclaimed by vacuum once stale)
  *   COMMIT_LOCK          — lock file serializing the publish step
  *
  * Every mutation writes a new version then atomically swings the CURRENT
  * pointer — a crash mid-write leaves the old version live, and the index
  * can always be re-derived (the reference's reindex recovery philosophy,
  * memo_cli.py:448-449, made atomic). Append-only saves are log-structured
  * deltas: O(batch) records + embeddings written, prior segments referenced
  * untouched; overwrite/reindex/import write compacting snapshots, and an
  * append chain compacts itself at `maxSegments` to bound read fan-in.
  *
  * CONCURRENCY CONTRACT — multi-writer, optimistic. The CURRENT swing is
  * atomic against READERS (a reader sees either the old or the new
  * version, never a torn state), and commits carry a compare-and-swap
  * against concurrent WRITERS: each mutation records the version it
  * derived its new state from, prepares the version data in a private
  * staging directory, and publishes under the store's commit lock only if
  * CURRENT still points at that version ([[finalizeCommit]]). A writer
  * that lost the race gets [[MemoEngine.ConcurrentCommitException]] and
  * the mutation re-runs from the new live version
  * ([[MemoEngine.retryOnConflict]]) — the Delta Lake protocol shape
  * (prepare → verify expected version → atomic publish), so an append
  * racing a compaction or a second append can never be silently lost,
  * and two appends can never mint the same ids. The lock is a JVM mutex
  * plus an OS file lock on `COMMIT_LOCK` (released by the OS if the
  * holder dies), which covers multiple JVMs on a shared filesystem; an
  * object store with no rename/lock primitive needs an external commit
  * coordinator — the same boundary Delta draws with its LogStore.
  */
class MemoEngine(spark: SparkSession, basePath: String,
    maxSegments: Int = MemoEngine.DefaultMaxSegments,
    materializeFeeds: Boolean = true,
    viewReserveK: Int = MemoEngine.DefaultViewReserveK,
    viewDistinctCap: Int = MemoEngine.DefaultViewDistinctCap,
    viewShardRows: Int = MemoEngine.DefaultViewShardRows,
    metaStatsSidecars: Boolean = true,
    statsMaxKeys: Int = graft.filter.SegmentStats.MaxKeys,
    statsMaxVals: Int = graft.filter.SegmentStats.MaxVals) {
  import MemoEngine.ConcurrentCommitException
  graft.plans.GraftOptimizations.install(spark)
  private val base = Paths.get(basePath)
  private def currentFile = base.resolve("CURRENT")
  private def stagingRoot = base.resolve(".staging")

  def exists: Boolean = Files.exists(currentFile)

  private def currentVersion: Option[Long] =
    if (!exists) None
    else Some(Files.readString(currentFile).trim.toLong)

  private def versionDir(v: Long): Path = base.resolve(s"v$v")

  /** Segment list for `records`/`index` of version v. A version is either a
    * full snapshot (manifest = its own dir) or an append delta (manifest =
    * prior segments + its own dir). Missing manifest = plain dir layout. */
  private def segments(v: Long, kind: String): Seq[String] = {
    val mf = versionDir(v).resolve(s"$kind.manifest")
    if (Files.exists(mf))
      Files.readAllLines(mf).asScala.toSeq.map(_.trim).filter(_.nonEmpty)
    else Seq(versionDir(v).resolve(kind).toString)
  }

  /** Manifests are PREPARED in the staging dir but name the FINAL version
    * paths — they only have to be correct once the staging dir is promoted
    * to its version dir by [[finalizeCommit]]'s rename. */
  private def writeManifest(staging: Path, kind: String,
      segs: Seq[String]): Unit =
    Files.writeString(staging.resolve(s"$kind.manifest"),
      segs.mkString("", "\n", "\n"))

  /** Sidecar recording the id RANGE of a freshly written records segment
    * (`_idrange` — the underscore keeps it invisible to Spark's parquet
    * listings). Dense ascending id minting means live segments hold
    * DISJOINT id sets, so a recorded [min,max] per segment lets
    * [[patchMerge]] prove "this batch cannot touch that segment" from
    * two longs — the file-pruning a Delta MERGE gets from file stats.
    * Patch segments record MULTI-intervals (`lo,hi;lo,hi;…` via
    * [[writeIdRanges]]) so folding non-adjacent segments keeps the gap
    * between them out of the recorded set; tests stay sound and
    * over-approximate — a false positive only rewrites an extra segment.
    * Cost: one column-pruned min/max scan of the just-written segment,
    * O(segment) against a commit that just wrote O(segment × row width).
    * A segment without the sidecar (pre-existing stores) reads as
    * "unknown — intersects everything" and the patch arm stands down. */
  private def writeIdRange(segDir: Path,
      source: Option[DataFrame] = None): Unit = {
    // `source`, when given, is a PINNED frame holding exactly the rows
    // written to `segDir` (streamIngest's cached mint) — aggregating it
    // skips the parquet re-read and unties the stats leg from the
    // records write, letting both run concurrently
    val df = source.getOrElse(readSegments("records", Seq(segDir.toString)))
    if (metaStatsSidecars) {
      val (idRange, stats) = graft.filter.SegmentStats.compute(df,
        statsMaxKeys, statsMaxVals)
      Files.writeString(segDir.resolve("_idrange"),
        idRange.fold("empty") { case (lo, hi) => s"$lo,$hi" })
      writeMetaStats(segDir, stats)
    } else {
      // metaStatsSidecars=false (materializeFeeds' write-heavy twin —
      // a store that never runs filtered reads skips the per-commit
      // stats aggregation entirely; its segments read as "unprunable",
      // sound by the missing-sidecar rule): only the two-long id range
      // the patch arm needs, one min/max aggregation
      val r = df.agg(org.apache.spark.sql.functions.min(col("id")),
        org.apache.spark.sql.functions.max(col("id"))).collect()(0)
      Files.writeString(segDir.resolve("_idrange"),
        if (r.isNullAt(0)) "empty" else s"${r.getLong(0)},${r.getLong(1)}")
    }
  }

  /** Stats sidecar for segment-level DATA SKIPPING on filtered reads
    * (`_metastats` — underscore-invisible to Spark listings, like
    * `_idrange`): per-metadata-key value bounds in exactly the
    * orderings the compiled filter predicate evaluates, so
    * [[graft.filter.SegmentStats.canMatch]] can prove "no row of this
    * segment can satisfy this filter" from a few strings — the
    * zone-map pruning Delta gets from file stats, over the TYPED
    * metadata domain. Pruning is an over-approximation: a false
    * positive only reads an extra segment; a missing/undecodable
    * sidecar (pre-existing stores) reads as "unprunable". Cost: one
    * shuffle-free Spark job over the just-written segment
    * ([[graft.filter.SegmentStats.compute]]), the same (id,
    * metadata)-pruned read that yields the id range. */
  private def writeMetaStats(segDir: Path,
      stats: graft.filter.SegmentStats): Unit =
    Files.writeString(segDir.resolve("_metastats"),
      graft.filter.SegmentStats.encode(stats))

  /** Sidecar write for a PATCH segment, whose id set is inherently
    * multi-interval (survivors of the folded segments + the batch):
    * `lo,hi;lo,hi;…` — coalesced and capped so precision never decays
    * into one wide interval that swallows the untouched segments'
    * ranges between the folded ones. */
  private def writeIdRanges(segDir: Path, ranges: Seq[(Long, Long)]): Unit = {
    Files.writeString(segDir.resolve("_idrange"),
      if (ranges.isEmpty) "empty"
      else ranges.map { case (lo, hi) => s"$lo,$hi" }.mkString(";"))
    if (metaStatsSidecars) {
      val df = readSegments("records", Seq(segDir.toString))
      writeMetaStats(segDir, graft.filter.SegmentStats.compute(df,
        statsMaxKeys, statsMaxVals)._2)
    }
  }

  /** The recorded id intervals of a records segment: None = no sidecar
    * (unknown — intersects everything, the patch arm stands down);
    * Some(Nil) = provably empty (intersects nothing). */
  private def readIdRanges(segDir: String): Option[Seq[(Long, Long)]] = {
    val p = Paths.get(segDir).resolve("_idrange")
    if (!Files.exists(p)) None
    else Files.readString(p).trim match {
      case "empty" => Some(Seq.empty)
      case s => Some(s.split(";").toSeq.map { pair =>
        val a = pair.split(","); (a(0).toLong, a(1).toLong)
      })
    }
  }

  /** Coalesce overlapping/adjacent intervals, then merge the SMALLEST
    * gaps until at most `cap` remain — the bounded over-approximation a
    * patch segment records. Driver arithmetic over ≤ maxSegments+1
    * intervals. */
  private def mergeRanges(rs: Seq[(Long, Long)],
      cap: Int = 8): Seq[(Long, Long)] = {
    val sorted = rs.filter(r => r._1 <= r._2).sortBy(_._1)
    if (sorted.isEmpty) return Seq.empty
    var v = sorted.tail.foldLeft(Vector(sorted.head)) {
      case (acc, (lo, hi)) =>
        val (plo, phi) = acc.last
        if (lo <= phi + 1) acc.init :+ ((plo, math.max(phi, hi)))
        else acc :+ ((lo, hi))
    }
    while (v.size > cap) {
      val gi = v.indices.init.minBy(i => v(i + 1)._1 - v(i)._2)
      v = (v.take(gi) :+ ((v(gi)._1, v(gi + 1)._2))) ++ v.drop(gi + 2)
    }
    v
  }

  /** The streaming exactly-once watermark: (checkpoint lineage, highest
    * micro-batch id) committed into the live chain ([[streamSink]]'s
    * dedup key). The marker lives INSIDE the version directory — written
    * before the CURRENT swing, so it becomes visible atomically with the
    * data it describes — and every commit carries the latest value
    * forward into its new version, so it survives interleaved non-stream
    * mutations and vacuum (which always keeps the live version). Format:
    * `<batchId>:<lineage>` (batch id first — lineage strings may contain
    * colons). */
  private def streamMarker(v: Long): Path = versionDir(v).resolve("stream_batch")

  private[memo] def lastStreamMark: Option[(String, Long)] =
    currentVersion.flatMap { v =>
      val p = streamMarker(v)
      if (!Files.exists(p)) None
      else Files.readString(p).trim.split(":", 2) match {
        case Array(id, lineage) => Some((lineage, id.toLong))
        case Array(id) => Some((DefaultLineage, id.toLong))
      }
    }

  /** Carry the watermark into the staged version (an override for the
    * committing stream batch, else the prior version's value). Prepared in
    * staging so it becomes visible atomically with the promoting rename. */
  private def carryStreamMarker(staging: Path,
      markBatch: Option[(String, Long)]): Unit =
    markBatch.orElse(lastStreamMark).foreach { case (l, b) =>
      Files.writeString(staging.resolve("stream_batch"), s"$b:$l")
    }

  private val DefaultLineage = "default"

  /** Scan-plan memo for the read handles: the resolved parquet relation
    * per (store incarnation, version, kind). Re-deriving it per reference
    * costs a directory listing + footer schema inference + relation
    * analysis (~40-60 ms), and the serving paths reference `records` and
    * `index` several times per call — pure repeated planning work
    * (guide §7.3 class). This memoizes a LOGICAL PLAN ONLY: no row data
    * is pinned, every action still computes from the parquet inputs.
    * Safety is by construction: a committed version directory is
    * immutable (commits only add new `v<N>` dirs and swing CURRENT), so
    * (version, kind) names a fixed file set; the CURRENT-file mtime in
    * the key makes a drop-and-recreate of the whole store (which restarts
    * version numbering over the same paths) a different incarnation. The
    * memo lives on the companion (keyed by session + store path) because
    * callers construct a fresh engine handle per query — a per-instance
    * memo would never carry across calls. */
  private def scanOf(v: Long, kind: String): DataFrame = incarnation match {
    case None => readSegments(kind, segments(v, kind))
    case Some(stamp) =>
      val memo = MemoEngine.scanMemo
      if (memo.size > 128) memo.clear() // bound across long version chains
      memo.computeIfAbsent(
        (System.identityHashCode(spark).toString, basePath, stamp, v, kind),
        _ => readSegments(kind, segments(v, kind)))
  }

  /** The CURRENT file's mtime: every pointer swing rewrites it, so a store
    * dropped and recreated (whose version numbers restart over the same
    * paths) never shares it with the old incarnation. None when there is
    * no store. Keys [[scanOf]]'s memo and the max-id memo. */
  private def incarnation: Option[String] =
    try Some(Files.getLastModifiedTime(currentFile).toInstant.toString)
    catch { case _: java.io.IOException => None }

  /** Committed segments of `kind` read under the writer's declared
    * schema: every records / index segment is written with exactly that
    * shape, so the read skips the footer schema-inference job (30-90 ms
    * per read) and resolves even when every listed dir is empty. */
  private def readSegments(kind: String, paths: Seq[String]): DataFrame =
    spark.read.schema(MemoEngine.segmentSchema(kind)).parquet(paths: _*)

  /** The live records table; empty-schema table when the DB doesn't exist.
    * Appends are log-structured: the read unions the base snapshot with the
    * appended segments (ids are disjoint by construction — appends mint new
    * ids; overwrites force a fresh snapshot). */
  def records: DataFrame = currentVersion match {
    case Some(v) => scanOf(v, "records")
    case None => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], YamlIO.recordSchema)
  }

  /** The derived embedding index for the live version. */
  def index: DataFrame = currentVersion match {
    case Some(v) => scanOf(v, "index")
    case None => records.select(col("id"), embedText(col("body")).as("embedding"))
  }

  // ---- time travel --------------------------------------------------------
  //
  // Every commit already leaves a self-describing version directory
  // (manifest = the exact segment set that version read), so historical
  // reads are a pure MANIFEST-RESOLUTION feature: no extra write-path work,
  // no copied data — an append version's snapshot is its delta dir plus
  // references into prior versions' dirs. What bounds history is vacuum:
  // by default it retains only the live chain (storage never grows beyond
  // the reference's semantics), and `vacuum(retainVersions = k)` keeps the
  // newest k committed versions RESOLVABLE — retention is computed over the
  // union of the retained manifests, so an old append version can never be
  // gutted by reclaiming a prior dir it references. For a training-data
  // store this is the reproducibility primitive: pin the version a dataset
  // was exported at, and `recordsAt(v)` re-reads byte-identical rows later.

  /** Committed versions (oldest first) that are still fully resolvable —
    * every segment their manifests reference exists. Superseded versions
    * drop out once [[vacuum]] reclaims them; a `v<N>` dir beyond CURRENT
    * (the corpse of a crashed writer that never published) is not listed.
    * Lock-free like [[records]]: racing a concurrent vacuum can at worst
    * omit a version that was being reclaimed. */
  def versions: Seq[Long] = currentVersion match {
    case None => Seq.empty
    case Some(cur) =>
      listDir(base)
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.matches("v\\d+"))
        .map(_.getFileName.toString.drop(1).toLong)
        .filter(_ <= cur)
        .filter(v => (segments(v, "records") ++ segments(v, "index"))
          .forall(s => Files.exists(Paths.get(s))))
        .sorted
  }

  /** The records table exactly as version `v` served it. Fails loudly
    * (never a silently partial read) when `v` was never committed or has
    * been vacuumed past — [[versions]] lists what is readable. */
  def recordsAt(v: Long): DataFrame = readAt(v, "records")

  /** The embedding index exactly as version `v` served it. */
  def indexAt(v: Long): DataFrame = readAt(v, "index")

  private def readAt(v: Long, kind: String): DataFrame = {
    val cur = currentVersion.getOrElse(
      throw new IllegalArgumentException(s"no store at $basePath"))
    if (v > cur || !Files.isDirectory(versionDir(v)))
      throw new IllegalArgumentException(
        s"version v$v does not exist (live is v$cur; vacuumed history is " +
        s"listed by versions — re-run vacuum with retainVersions to keep it)")
    val segs = segments(v, kind)
    val missing = segs.filterNot(s => Files.exists(Paths.get(s)))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"version v$v is no longer resolvable: vacuum reclaimed " +
        s"${missing.mkString(", ")}")
    // rides the scan memo; the loud-failure checks above re-run per call
    scanOf(v, kind)
  }

  /** One row per resolvable version, newest last — the DESCRIBE HISTORY
    * analog: commit shape (snapshot vs append delta), segment fan-in, and
    * the streaming watermark the version carried. Driver work is
    * O(retained versions) manifest reads — never a data scan. */
  def history: DataFrame = {
    import spark.implicits._
    val vs = versions
    vs.zipWithIndex.map { case (v, i) =>
      val segs = segments(v, "records")
      // Kind is RELATIONAL, not structural: a version is an "append" iff
      // its manifest extends the previous resolvable version's (the same
      // startsWith test changesBetween's fast path uses). A first version
      // is a snapshot by definition — including a shallow clone's v0,
      // whose manifest references the SOURCE's segment dirs (fan-in > 1)
      // yet is semantically a full snapshot of the cloned state.
      val kind =
        if (i == 0) "snapshot"
        else {
          val prev = segments(vs(i - 1), "records")
          if (segs.startsWith(prev) && segs.size > prev.size) "append"
          else "snapshot"
        }
      val mark = {
        val p = streamMarker(v)
        if (Files.exists(p)) Files.readString(p).trim else null
      }
      (v, kind, segs.size, mark)
    }.toDF("version", "kind", "segments", "stream_mark")
  }

  /** [[recall]] reproduced against a retained historical version — the
    * ranking a query WOULD have returned at version `v`, re-derivable
    * exactly for as long as retention keeps `v` resolvable. Deliberately
    * the brute-force scored-scan shape ([[MemoOps.recall]]), not the
    * maintained-artifact path: artifacts track the LIVE version only, and
    * historical recalls are one-off audits, not a serving workload. */
  def recallAt(v: Long, query: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None): DataFrame = {
    val qv = VectorKernels.hashEmbedFloats(query, VectorKernels.DefaultDim)
    val recs = recordsAt(v).join(indexAt(v), Seq("id"))
    MemoOps.recall(recs, lit(qv), k, filterExpr)
  }

  /** Row-level changefeed between two committed versions (`fromV` exclusive
    * base, `toV` inclusive target): one row per id whose state differs,
    * `change` ∈ added | removed | updated, with the `toV`-side body/metadata
    * (the `fromV` side for removed rows).
    *
    * Cost is shaped by how the versions relate, decided from the MANIFESTS
    * alone (driver-side, before any job runs):
    *   - `toV` extends `fromV`'s chain (pure appends in between): only the
    *     delta segments are scanned — O(changed rows), no join, the shape an
    *     incremental downstream consumer needs at 100 TB.
    *   - otherwise (an overwrite/reindex/compaction intervened): a full-outer
    *     join on id classifies the diff — O(both versions), one hash shuffle,
    *     still never a driver materialization. Metadata maps compare by
    *     sorted-entry canonical form, so entry ORDER never fabricates an
    *     "updated" row.
    * Note [[reindex]] re-sequences ids; a changefeed spanning one reports
    * that id remapping honestly (same caveat as any CDC over rewritten keys). */
  def changesBetween(fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"need fromV < toV, got v$fromV..v$toV")
    val cur = currentVersion.getOrElse(
      throw new IllegalArgumentException(s"no store at $basePath"))
    // ≤ CURRENT: a v<N> dir beyond the pointer is the corpse of a crashed
    // writer that never published — it must not feed a changefeed.
    Seq(fromV, toV).foreach { v =>
      if (v > cur || !Files.isDirectory(versionDir(v)))
        throw new IllegalArgumentException(
          s"version v$v does not exist (live is v$cur)")
    }
    val fromSegs = segments(fromV, "records")
    val toSegs = segments(toV, "records")
    if (toSegs.startsWith(fromSegs)) {
      val delta = toSegs.drop(fromSegs.size)
      val missing = delta.filterNot(s => Files.exists(Paths.get(s)))
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"changefeed v$fromV..v$toV is no longer resolvable: vacuum " +
        s"reclaimed ${missing.mkString(", ")}")
      readSegments("records", delta)
        .select(col("id"), lit("added").as("change"), col("body"),
          col("metadata"))
    } else {
      // a PATCH commit materialized its own feed at commit time
      // ([[patchMerge]]): a single-step window reads it directly —
      // O(touched rows) — instead of paying the full-outer
      // classification join over both snapshots. Multi-step or
      // rewrite/restore windows keep the join (always correct).
      val feedDir = versionDir(toV).resolve("changefeed")
      if (toV == fromV + 1 && Files.isDirectory(feedDir))
        spark.read.schema(MemoEngine.FeedSchema).parquet(feedDir.toString)
      else MemoOps.changeFeed(recordsAt(fromV), recordsAt(toV))
    }
  }

  /** The store's one commit protocol — every write arm publishes through
    * it. It numbers the new version after `expectedPrior`, opens a
    * private staging dir, runs the arm's segment writes (`write`, which
    * returns the new version's records and index manifests), then in the
    * `manifests_finalize` phase writes both manifests, carries the stream
    * watermark (`mark` overrides it for a committing stream batch) and
    * publishes by compare-and-swap ([[finalizeCommit]]). `expectedPrior`
    * is the live version the arm derived its writes from — the
    * optimistic-concurrency token: if another writer commits in between,
    * publication fails with [[MemoEngine.ConcurrentCommitException]] and
    * the caller's [[MemoEngine.retryOnConflict]] re-runs the mutation from
    * fresh state; a prep failure while the live version moved surfaces
    * the same way ([[reclassifyRaceCollateral]]). The staging dir is
    * deleted on every exit (a no-op once promoted). Returns the published
    * version. */
  private def publishVersion(expectedPrior: Option[Long],
      mark: Option[(String, Long)])(
      write: (Path, Long) => (Seq[String], Seq[String])): Long = {
    val v = expectedPrior.getOrElse(-1L) + 1
    val staging = newStaging()
    try {
      val (recordSegs, indexSegs) = write(staging, v)
      commitPhase("manifests_finalize") {
        writeManifest(staging, "records", recordSegs)
        writeManifest(staging, "index", indexSegs)
        carryStreamMarker(staging, mark)
        finalizeCommit(staging, v, expectedPrior)
      }
      v
    } catch reclassifyRaceCollateral(v, expectedPrior)
    finally deleteTree(staging) // no-op when promoted
  }

  /** The manifests of snapshot version `v`: its own dirs, nothing
    * carried by reference. */
  private def snapshotSegs(v: Long): (Seq[String], Seq[String]) =
    (Seq(versionDir(v).resolve("records").toString),
      Seq(versionDir(v).resolve("index").toString))

  /** Write records (+ derived index) as the next version, a compacting
    * snapshot published by [[publishVersion]]. Index is written first
    * (reference write order, memo_cli.py:448-449), but the promoting
    * rename + pointer swap make the pair atomic.
    *
    * `changedIds` = the ids this mutation touched. When present and a prior
    * version exists, the index is derived INCREMENTALLY: prior index rows
    * for untouched ids are reused verbatim and only the changed rows are
    * embedded — the reference's append path is incremental the same way
    * (memo_cli.py:436-437); full rebuild stays for reindex/import
    * (memo_cli.py:442-443, 359). At scale this turns a 1-row save from
    * O(corpus) embedding work into O(1) + a columnar copy of the prior
    * index (no shuffle: filter + union preserve partitioning).
    *
    * `changedIds` is a single-column (`id`) DataFrame, not a driver list:
    * a CLI-sized batch arrives as a tiny local relation (the joins below
    * broadcast it), while a bulk distributed save passes its full batch
    * and the same joins become ordinary shuffle joins — no O(batch)
    * literal ever lands in the plan or on the driver. */
  private def commit(newRecords: DataFrame,
      expectedPrior: Option[Long],
      changedIds: Option[DataFrame] = None,
      markBatch: Option[(String, Long)] = None): Long =
    publishVersion(expectedPrior, markBatch) { (staging, v) =>
      val recs = newRecords.select(col("id"), col("body"), col("metadata"))
      val embedded = (changedIds match {
        case Some(ids) if expectedPrior.isDefined =>
          val changed = recs.join(ids, Seq("id"), "left_semi")
          index.join(ids, Seq("id"), "left_anti")
            .unionByName(changed.filter(!isBlank(col("body")))
              .select(col("id"), embedText(col("body")).as("embedding")))
        case _ =>
          recs.filter(!isBlank(col("body")))
            .select(col("id"), embedText(col("body")).as("embedding"))
      })
      // independent writes overlapped exactly as in [[commitAppend]]
      MemoEngine.legs(spark)(() => {
          recs.write.mode("overwrite")
            .parquet(staging.resolve("records").toString)
          writeIdRange(staging.resolve("records"))
        }, () => embedded.write.mode("overwrite")
          .parquet(staging.resolve("index").toString))
      snapshotSegs(v)
    }

  /** Prep failures CAUSED by losing the race (e.g. the winner's vacuum
    * reclaimed segments this mutation was still reading) must surface as
    * [[MemoEngine.ConcurrentCommitException]] so [[MemoEngine.retryOnConflict]]
    * re-runs the mutation — not as an opaque Spark job failure. If the
    * live version has NOT moved the failure is genuine; rethrow it. */
  private def reclassifyRaceCollateral(v: Long, expectedPrior: Option[Long])
      : PartialFunction[Throwable, Nothing] = {
    case e: ConcurrentCommitException => throw e
    case scala.util.control.NonFatal(e) if currentVersion != expectedPrior =>
      throw new ConcurrentCommitException(
        s"commit of v$v failed while the live version moved " +
        s"(collateral of a lost race): $e", e)
  }

  /** Append-only commit: write ONLY the batch rows as a new segment and
    * extend the manifests — prior segment files are referenced, not
    * rewritten. A 1-row append is O(1) write work regardless of corpus
    * size (the reference appends vectors incrementally but rewrites its
    * whole YAML file, memo_cli.py:436-448 — this path beats it on both).
    * Falls back to a compacting full commit when the chain reaches
    * `maxSegments`, bounding read fan-in. `expectedPrior` = the live
    * version the batch was minted against (see [[publishVersion]]). */
  private def commitAppend(batch: DataFrame, batchIds: DataFrame,
      expectedPrior: Long, markBatch: Option[(String, Long)],
      batchRows: Option[Long]): Long = {
    if (segments(expectedPrior, "records").size >= maxSegments)
      return commit(records.unionByName(batch), Some(expectedPrior),
        changedIds = Some(batchIds), // compact: reuses index, embeds batch only
        markBatch = markBatch)
    publishVersion(Some(expectedPrior), markBatch) { (staging, v) =>
      val recs = batch.select(col("id"), col("body"), col("metadata"))
      // The segment writes are independent (guide §2.6: overlap
      // independent jobs). When the caller knows the batch row count
      // (streamIngest — `batch` is its PINNED cached frame), two more
      // levers open: the CPU-dense embed spreads over
      // [[MemoEngine.EmbedRowsPerTask]]-row tasks instead of riding the
      // byte-sized mint partitioning (a micro-batch's single partition
      // starves the embed; hash-by-id, so no sort-before-repartition
      // pass), and the sidecar stats aggregate the cached frame directly
      // — same rows as the written segment — turning records+stats into
      // a THIRD independent leg instead of a sequential re-read.
      val embedInput = batchRows match {
        case Some(n) =>
          val parts = math.min(
            spark.conf.get("spark.sql.shuffle.partitions", "200").toLong,
            (n - 1) / MemoEngine.EmbedRowsPerTask + 1).toInt
          if (parts > 1) recs.repartition(parts, col("id")) else recs
        case None => recs
      }
      val indexLeg = () => commitPhase("index_write") {
        embedInput.filter(!isBlank(col("body")))
          .select(col("id"), embedText(col("body")).as("embedding"))
          .write.mode("overwrite")
          .parquet(staging.resolve("index").toString)
      }
      val recordsLeg = () => commitPhase("records_write") {
        recs.write.mode("overwrite")
          .parquet(staging.resolve("records").toString)
      }
      val statsLeg = () => commitPhase("idrange_stats") {
        writeIdRange(staging.resolve("records"),
          source = if (batchRows.isDefined) Some(recs) else None)
      }
      if (batchRows.isDefined)
        MemoEngine.legs(spark)(statsLeg, recordsLeg, indexLeg)
      else
        MemoEngine.legs(spark)(() => { recordsLeg(); statsLeg() }, indexLeg)
      (segments(expectedPrior, "records") :+
          versionDir(v).resolve("records").toString,
        segments(expectedPrior, "index") :+
          versionDir(v).resolve("index").toString)
    }
  }

  private def swingPointer(v: Long): Unit = {
    val tmp = base.resolve("CURRENT.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, currentFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** A fresh private staging directory for one commit attempt. Unique per
    * attempt (across threads AND processes), under the store base so the
    * promoting rename stays on one filesystem. */
  private def newStaging(): Path = {
    Files.createDirectories(stagingRoot)
    Files.createTempDirectory(stagingRoot, "commit-")
  }

  /** Test seam: invoked once per commit attempt just before publication —
    * lets specs interleave a foreign commit into the race window
    * deterministically instead of relying on thread timing. Noop in
    * production. */
  private[memo] var beforePublishHook: () => Unit = () => ()

  /** Timing seam of this engine's write path: when set, called with
    * (phase, millis) per timed phase — every commit's
    * `manifests_finalize` ([[publishVersion]]), the append arm's
    * `idrange_stats`, `records_write` and `index_write`
    * ([[commitAppend]]), streamIngest's `mint_shape`, and
    * [[applyChanges]]' `collapse`, `probe` and `commit`. The legs of one
    * commit report from pool threads, so a hook must be thread-safe.
    * CommitPhaseHookSpec pins the commit phases. Null in production: the
    * wrapper is a straight pass-through. */
  private[graft] var commitPhaseHook: (String, Double) => Unit = null

  @inline private def commitPhase[A](phase: String)(f: => A): A =
    if (commitPhaseHook == null) f
    else {
      val t0 = System.nanoTime()
      try f finally commitPhaseHook(phase, (System.nanoTime() - t0) / 1e6)
    }

  /** Publish a prepared staging directory as version `v` — the
    * compare-and-swap at the heart of the multi-writer contract. Under the
    * store's commit lock: verify CURRENT still points at `expectedPrior`
    * (the version this mutation derived its state from), clear any torn
    * v`v` left by a crashed writer (safe: while the lock is held and
    * CURRENT < v, a populated v`v` can only be a corpse — live writers
    * prepare in private staging), then atomically rename staging → v`v`
    * and swing the pointer. A failed verify deletes the staging attempt
    * and throws [[MemoEngine.ConcurrentCommitException]]. */
  private def finalizeCommit(staging: Path, v: Long,
      expectedPrior: Option[Long]): Unit = {
    beforePublishHook()
    MemoEngine.withCommitLock(base) {
      if (currentVersion != expectedPrior) {
        // staging cleanup happens in the caller's finally, OUTSIDE the
        // lock — a loser must not serialize other writers behind an
        // O(staged-corpus) tree delete
        throw new ConcurrentCommitException(
          s"commit of v$v lost the race: expected live version " +
          s"${expectedPrior.getOrElse("<none>")} but found " +
          s"${currentVersion.getOrElse("<none>")}")
      }
      val target = versionDir(v)
      if (Files.exists(target)) deleteTree(target)
      Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      swingPointer(v)
    }
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }

  /** The arm choice every ingest door shares. A batch its caller PROVED
    * append-only (every id fresh) lands as an append delta
    * ([[commitAppend]], O(batch)). Otherwise the SEGMENT-PRUNED patch
    * ([[patchMerge]]) rewrites only the segments holding the batch's ids,
    * and where it cannot prove that scope the batch merges into a full
    * compacting rewrite (latest wins by id). The index is derived
    * incrementally either way: batch rows embed, nothing else. With no
    * prior version the batch IS the store and commits as it is. `ids` =
    * every id the batch touches (removes included), `batch` = the (id,
    * body, metadata) rows that land. Returns the published version. */
  private def upsert(v0: Option[Long], batch: DataFrame, ids: DataFrame,
      appendOnly: Boolean, mark: Option[(String, Long)] = None,
      batchRows: Option[Long] = None): Long = v0 match {
    case None => commit(batch, None, markBatch = mark)
    case Some(prior) if appendOnly =>
      commitAppend(batch, ids, prior, mark, batchRows)
    case Some(prior) =>
      patchMerge(prior, ids, batch, mark).getOrElse(commit(
        records.join(ids, Seq("id"), "left_anti").unionByName(batch),
        v0, changedIds = Some(ids), markBatch = mark))
  }

  /** Save a YAML batch: entries with `id` overwrite (must exist — whole
    * batch aborts otherwise, memo_cli.py:424-433); entries without append
    * with dense ids. Returns (id, note) per entry in input order.
    *
    * SIZE CONTRACT — CLI-batch-shaped: the batch arrives as one driver
    * String and the parsed entries live on the driver, so this path
    * assumes entries ≪ corpus (interactive saves, small imports). Batches
    * too big to hold on the driver go through [[saveFromPath]], which
    * parses, validates, and mints ids entirely on executors. */
  def save(batchYaml: String): Seq[(Long, String)] = {
    import spark.implicits._
    val entries = YamlIO.parseSaveBatch(batchYaml)
    if (entries.isEmpty) return Seq.empty
    MemoEngine.retryOnConflict {
      val v0 = currentVersion // the optimistic-concurrency token
      // Scale note: only driver-side state here is the (small) input
      // batch. Override validation probes the store for JUST the batch's
      // ids; the max id comes from the max-id memo — never a full id
      // collect. Both are column-pruned id scans, so the live store is
      // NOT pinned: a cache here would materialize every column (bodies
      // included) of the whole corpus per save.
      val overrideIds = entries.collect { case (Some(id), _, _) => id }
      if (overrideIds.nonEmpty) {
        val found = records.select("id")
          .filter(col("id").isin(overrideIds: _*)).as[Long].collect().toSet
        overrideIds.find(!found.contains(_)).foreach { id =>
          // message mirrors memo_cli.py:427
          throw new IllegalArgumentException(s"override id $id does not exist")
        }
      }
      var nextId = v0.fold(-1L)(storeMaxId(_))
      val resolved = entries.map {
        case (Some(id), body, meta) => (id, body, meta)
        case (None, body, meta) => nextId += 1; (nextId, body, meta)
      }
      val batchDf = resolved.toDF("id", "body", "metadata")
      // overrides name existing ids, so the last minted id is the new max
      noteMaxId(upsert(v0, batchDf, batchDf.select("id"),
        appendOnly = overrideIds.isEmpty), nextId)
      // the reference echoes the FULL body, newlines and all
      // (memo_cli.py:430, 440: f"Memorized: '{note}' ...")
      resolved.map { case (id, body, _) => (id, body) }
    }
  }

  /** Bulk save from a YAML file PATH — the distributed twin of [[save]]
    * for batches too big to hold as a driver String. The file is parsed on
    * executors ([[YamlIO.parseSavePath]]); override-id validation is an
    * anti-join; fresh ids are assigned in file order via a sorted
    * `zipWithIndex`; and the commit paths receive the batch ids as a
    * DataFrame, so nothing O(batch) lives on the driver. Returns the
    * (id, body) echoes as a file-ordered streaming iterator — the caller
    * prints them one at a time (the echo itself is inherently O(batch)
    * OUTPUT, but never O(batch) driver MEMORY). */
  def saveFromPath(path: String): Iterator[(Long, String)] = {
    import spark.implicits._
    val entries = YamlIO.parseSavePath(spark, path).cache()
    try {
      if (entries.isEmpty) throw new IllegalArgumentException(
        "input YAML contains no entries")
      MemoEngine.retryOnConflict {
      val v0 = currentVersion // the optimistic-concurrency token
      val overrides = entries.filter(col("id").isNotNull)
      val missing = overrides.join(records.select("id"), Seq("id"), "left_anti")
        .orderBy(col("file"), col("off"), col("seq"))
        .select("id").limit(1).collect()
      if (missing.nonEmpty) throw new IllegalArgumentException(
        s"override id ${missing(0).getLong(0)} does not exist") // memo_cli.py:427
      val maxId = v0.fold(-1L)(storeMaxId(_))
      val hasOverrides = overrides.limit(1).count() > 0
      // fresh ids: dense, minted in input order (file, off, seq) —
      // distributed via sort + zipWithIndex, never a single-partition window
      val minted = entries.filter(col("id").isNull)
        .sort(col("file"), col("off"), col("seq")).rdd.zipWithIndex()
        .map { case (r, i) =>
          org.apache.spark.sql.Row(r.getString(0), r.getLong(1), r.getInt(2),
            maxId + 1 + i, r.getString(4), r.getMap[String, String](5))
        }
      val mintedDf = spark.createDataFrame(minted, YamlIO.saveEntrySchema)
      val resolved = overrides.unionByName(mintedDf).cache()
      try {
        upsert(v0, resolved.select("id", "body", "metadata"),
          resolved.select("id"), appendOnly = !hasOverrides)
        val echo = resolved.orderBy(col("file"), col("off"), col("seq"))
          .select(col("id"), col("body")).as[(Long, String)]
          .toLocalIterator.asScala
        new Iterator[(Long, String)] {
          def hasNext: Boolean = {
            val h = echo.hasNext
            if (!h) { resolved.unpersist(); entries.unpersist() }
            h
          }
          def next(): (Long, String) = echo.next()
        }
      } catch {
        case e: Exception => resolved.unpersist(); throw e
      }
      }
    } catch {
      case e: Exception =>
        entries.unpersist()
        throw YamlIO.asUserError(e)
    }
  }

  /** The max-id memo: (store [[incarnation]], version, max id). It is the
    * dense-mint base of [[save]], [[saveFromPath]] and [[streamIngest]],
    * [[applyChanges]]' disjointness watermark, and the corpus-size gate
    * of the retract classification. The incarnation in the key keeps a
    * dropped-and-recreated store, whose versions restart at v0, from
    * reading the old store's max. A miss costs one column-pruned max(id)
    * aggregation over the chain AT `v`. A writer that knows the max after
    * its own commit records it ([[noteMaxId]]), so its next mint costs no
    * job; every other commit leaves the memo keyed to an older version,
    * which then misses. `probe` reports a miss as [[applyChanges]]'
    * `probe` phase. */
  @volatile private var maxIdMemo: Option[(String, Long, Long)] = None

  private def storeMaxId(v: Long, probe: Boolean = false): Long = {
    val stamp = incarnation
    maxIdMemo match {
      case Some((s, mv, m)) if stamp.contains(s) && mv == v => m
      case _ =>
        def scan = scanOf(v, "records").agg(max(col("id"))).collect()(0)
        val r = if (probe) commitPhase("probe")(scan) else scan
        val m = if (r.isNullAt(0)) -1L else r.getLong(0)
        stamp.foreach(s => maxIdMemo = Some((s, v, m)))
        m
    }
  }

  private def noteMaxId(v: Long, m: Long): Unit =
    incarnation.foreach(s => maxIdMemo = Some((s, v, m)))

  /** Exactly-once streaming ingestion — attach as a `foreachBatch` sink:
    *
    * {{{
    * bodies.writeStream.foreachBatch(engine.streamSink(ckpt) _)
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    *
    * `lineage` must be a stable identifier of the CHECKPOINT lineage (the
    * checkpoint path is the natural choice). Structured Streaming batch
    * ids restart from 0 under a new/changed checkpoint; scoping the
    * watermark by lineage means a watermark recorded under an old
    * checkpoint never silently swallows the new lineage's first batches —
    * it is superseded instead (the Delta `txnAppId`/`txnVersion` idiom).
    *
    * Each micro-batch lands as ONE append-only commit (O(batch) write
    * work, auto-compacting every `maxSegments` like every other append).
    * Structured Streaming delivers to foreachBatch at-least-once;
    * exactly-once lands here because the (lineage, batchId) pair rides
    * the version commit ([[carryStreamMarker]]): a replayed `batchId` at
    * or below the recorded watermark of the SAME lineage is detected and
    * skipped, so a crash between the sink call and the checkpoint advance
    * cannot double-ingest. Fresh ids are minted densely from max(id)+1 in
    * sorted-body order — a deterministic function of the batch CONTENT.
    * Blank bodies are dropped (M1's contract); an all-blank batch commits
    * nothing. Expects columns (body STRING[, metadata
    * MAP<STRING,STRING>]). Other writers MAY commit while a stream is
    * attached — the optimistic-concurrency contract above serializes
    * them; the stream's mint base ([[storeMaxId]]) just takes an
    * O(corpus) max-id rescan on the next batch after a foreign commit. */
  def streamSink(lineage: String): (DataFrame, Long) => Unit =
    (batch, batchId) => { streamIngest(batch, batchId, lineage); () }

  /** [[streamSink]] with AMORTIZED MAINTENANCE: every `maintainEvery`-th
    * COMMITTED micro-batch runs the one-call [[maintain]] walk after its
    * commit, so a continuous ingest pipeline keeps the engine-maintained
    * artifacts (postings / ANN / signatures / labeling / views)
    * near-current instead of leaving the first post-ingest read to pay
    * the whole catch-up. Exactly-once semantics are UNCHANGED: the
    * maintenance runs outside the commit (each family's watermark walk
    * is idempotent — a crash mid-maintenance just leaves some families
    * behind for the next trigger), and a REPLAYED batch (watermark-
    * skipped, nothing committed) never counts toward the cadence and
    * never pays maintenance. Skipped/empty batches don't advance the
    * counter either — "every n-th" means n-th batch that actually
    * landed rows. The amortization is measured in BENCH_NOTES r19
    * ("streamSink(maintainEvery): amortized in-stream maintenance"). */
  def streamSink(lineage: String, maintainEvery: Int)
      : (DataFrame, Long) => Unit = {
    require(maintainEvery >= 1,
      s"maintainEvery must be >= 1, got $maintainEvery")
    var committed = 0L // per-sink-instance cadence (resets with the query)
    (batch, batchId) => {
      if (streamIngest(batch, batchId, lineage)) {
        committed += 1
        if (committed % maintainEvery == 0) { maintain(); () }
      }
    }
  }

  /** [[streamSink]] bound to the default lineage — for single-checkpoint
    * deployments: `foreachBatch(engine.streamAppend _)`. */
  def streamAppend(batch: DataFrame, batchId: Long): Unit = {
    streamIngest(batch, batchId, DefaultLineage)
    ()
  }

  /** True iff the batch COMMITTED (false: watermark replay or all-blank
    * batch) — the [[streamSink]] maintenance cadence's signal. */
  private def streamIngest(batch: DataFrame, batchId: Long,
      lineage: String): Boolean = MemoEngine.retryOnConflict {
    // re-checked per attempt: a replay racing another writer must still
    // be detected against the freshest committed watermark
    if (lastStreamMark.exists { case (l, b) => l == lineage && b >= batchId })
      false
    else {
      val v0 = currentVersion // the optimistic-concurrency token
      val withMeta =
        if (batch.columns.contains("metadata")) batch
        else batch.withColumn("metadata",
          lit(null).cast("map<string,string>"))
      val cleaned = withMeta.filter(!isBlank(col("body")))
        .select(col("body"), col("metadata"))
      // Batch shape in ONE cheap no-shuffle agg: the row count (the
      // empty-batch gate, now paid BEFORE any sort/cache work) and the
      // body bytes that size the mint sort. The sort's width scales with
      // the batch's BYTES (guide §2.2 — partition count ∝ data, not a
      // core-count constant; Lexical.deltaParts is the same idiom): a
      // micro-batch sorts in ONE task — no range-sampling job, no
      // 32-reducer exchange, and zipWithIndex's partition-offset job
      // vanishes at one partition — while a bulk batch spreads.
      val shape = commitPhase("mint_shape") {
        cleaned.agg(count(lit(1)), sum(octet_length(col("body"))))
          .collect()(0)
      }
      val n = shape.getLong(0)
      if (n == 0) false
      else {
        val mintParts = {
          val cap = spark.conf
            .get("spark.sql.shuffle.partitions", "200").toInt
          val bytes = if (shape.isNullAt(1)) 0L else shape.getLong(1)
          math.max(1L, math.min(cap.toLong,
            bytes / MemoEngine.MintBytesPerPart + 1)).toInt
        }
        val maxId = v0.fold(-1L)(storeMaxId(_))
        // mint in INTERNAL rows (`toRdd` + internalCreateDataFrame): the
        // external-Row round trip decoded every body AND converted every
        // metadata MapData to a Scala Map per row, then re-encoded both —
        // pure overhead on the per-batch hot path. `copy()` before
        // retaining: toRdd rows are reused buffers.
        // repartitionByRange + sortWithinPartitions ≡ sort (same global
        // body order, same tie class) with the width chosen above.
        val minted = org.apache.spark.sql.graftshim.GraftShims
          .toInternalRdd(cleaned
            .repartitionByRange(mintParts, col("body"))
            .sortWithinPartitions(col("body")))
          .zipWithIndex()
          .map { case (r, i) =>
            val row = new org.apache.spark.sql.catalyst.expressions.JoinedRow
            row(org.apache.spark.sql.catalyst.InternalRow(maxId + 1 + i),
              r.copy()): org.apache.spark.sql.catalyst.InternalRow
          }
        // persist: the commit evaluates the mint pipeline for the index
        // write, the records write, and (on compaction commits) the id
        // joins — without a pin each one re-runs the sort over the
        // source micro-batch (the parallel segment writes fill it via
        // the block manager's one-computes-others-wait contract)
        val batchDf = org.apache.spark.sql.graftshim.GraftShims
          .internalCreateDataFrame(spark, minted, YamlIO.recordSchema)
          .cache()
        try {
          noteMaxId(upsert(v0, batchDf, batchDf.select("id"),
            appendOnly = true, Some((lineage, batchId)), Some(n)), maxId + n)
          true
        } finally batchDf.unpersist()
      }
    }
  }

  /** The store's maintained BM25 postings artifact ([[graft.ops.Lexical]]
    * layout), living beside the version chain (`_lexical/` — not a
    * `v<N>` dir, so [[vacuum]] never sweeps it; [[clean]] drops it with
    * the store). */
  private def lexDir: String = base.resolve("_lexical").toString
  private val LexVersionFile = "_store_version"

  /** Test seam: fires inside [[ensureLexical]]'s locked catch-up arm,
    * before any artifact work — lets a spec interleave a foreign store
    * commit deterministically into the window (pinning that the catch-up
    * is a function of its CAPTURED version, not the live view). Noop in
    * production. */
  private[graft] var beforeLexicalBuildHook: () => Unit = () => ()

  /** One maintained artifact family as [[ensureArtifact]] walks it:
    * its dir, the chain `kind` it follows, the `last*Mode` test seam
    * every arm step is mirrored into, and its operations —
    * `appendSeg` catches up one new segment (path, committing
    * version), `retract(v0, v)` folds a v0→v patch O(touched) and
    * answers whether it did, `rebuild(v)` builds from scratch at the
    * captured version, `serve` loads the current artifact (None = not
    * servable). `beforeLocked` runs under the build lock before any
    * catch-up. */
  private final class ArtifactFamily[A](val dir: String, val kind: String,
      val seam: Option[String] => Unit,
      val appendSeg: (String, Long) => Unit,
      val retract: (Long, Long) => Boolean,
      val rebuild: Long => Option[A], val serve: () => Option[A],
      val beforeLocked: () => Unit = () => ())

  /** The version-watermark maintenance walk every engine-maintained
    * artifact family shares (lexical postings, the ANN artifact, minhash
    * signatures, the dup-group labeling). Fast path: the recorded
    * watermark equals the live version → serve lock-free, touching
    * nothing. Stale path, under the artifact's build lock
    * (double-checked): if the live `kind` manifest EXTENDS the recorded
    * version's and every new segment path parses to a version
    * (vacuumed/rewritten chains fall through), catch up O(new segments)
    * via `appendSeg`; otherwise — or if an append trips on a
    * torn/missing artifact (`IllegalStateException`) — try the family's
    * `retract` fold from its watermark, and only when that declines
    * `rebuild` from THE CAPTURED VERSION's segments, never the live
    * view: a concurrent commit during the rebuild would otherwise land
    * docs in the artifact that the recorded watermark below says are NOT
    * there yet, and the next catch-up would re-append them (duplicate
    * rows, the disjoint-id contract violated). A rebuild that produced
    * an artifact sweeps the [[RetractJournal]]; one that produced
    * nothing (empty corpus) leaves it, so a later fold can never replay
    * against a half-folded artifact. The watermark advances only when
    * the family has something to serve (`out.isDefined`), so an empty
    * corpus re-evaluates next call instead of caching absence. A
    * watermark naming the live version is trusted only while `serve()`
    * answers: an artifact whose meta was lost or cannot be read is not
    * current, so its watermark is dropped and the family rebuilds.
    *
    * Returns the served artifact and the arm this call took — "fresh" |
    * "append" | "retract" | "rebuild" — held per call, so a [[maintain]]
    * leg reports its own walk while other legs and callers run; each
    * step is also mirrored into the family's shared seam. */
  private def ensureArtifact[A](f: ArtifactFamily[A])
      : (Option[A], String) = {
    var arm = "fresh"
    def step(m: String): Unit = { arm = m; f.seam(Some(m)) }
    step(arm)
    val out = currentVersion.flatMap { v =>
      def recorded = ArtifactMeta.read(spark, f.dir, LexVersionFile)
        .flatMap(_.toLongOption)
      def current: Option[A] = if (recorded.contains(v)) f.serve() else None
      current.orElse(ArtifactMeta.withBuildLock(spark, f.dir) {
        current.orElse { // double-checked under the lock
          if (recorded.contains(v))
            ArtifactMeta.delete(spark, f.dir, LexVersionFile)
          f.beforeLocked()
          val segVersion = ("^.*/v(\\d+)/" + f.kind + "$").r
          // each delta segment is (path, the store version that committed
          // it) — ONE parse, validated and extracted together, so the
          // gate and the batchId a family derives can never disagree
          val delta = recorded.flatMap { v0 =>
            val cur = segments(v, f.kind)
            val old = segments(v0, f.kind)
            val extra = cur.drop(old.size).map {
              case seg @ segVersion(ver) => Some((seg, ver.toLong))
              case _ => None
            }
            if (Files.exists(versionDir(v0)) && cur.startsWith(old) &&
                extra.forall(_.isDefined))
              Some(extra.flatten)
            else None
          }
          def retractOrRebuild(): Option[A] =
            if (familyWatermark(f.dir).exists(f.retract(_, v))) {
              step("retract")
              f.serve()
            } else {
              step("rebuild")
              val built = f.rebuild(v)
              if (built.isDefined)
                ArtifactMeta.delete(spark, f.dir, RetractJournal)
              built
            }
          val out = delta match {
            case Some(extra) =>
              try {
                extra.foreach { case (seg, ver) =>
                  step("append"); f.appendSeg(seg, ver) }
                f.serve()
              } catch { case _: IllegalStateException => retractOrRebuild() }
            case None => retractOrRebuild()
          }
          if (out.isDefined)
            ArtifactMeta.write(spark, f.dir, LexVersionFile, v.toString)
          out
        }
      })
    }
    (out, arm)
  }

  private def bodyCorpus(paths: Seq[String]): DataFrame =
    readSegments("records", paths)
      .filter(!isBlank(col("body"))).select(col("id"), col("body"))

  /** Bring the postings artifact to the live store version — the
    * maintenance that makes [[hybridRecall]] O(probe) instead of two
    * corpus scans per call. Pull-based and exactly-once:
    *
    *  - FRESH (artifact's recorded store version == live): zero work, no
    *    corpus scan — the check is two metadata file reads;
    *  - BEHIND on an append-only chain (the live manifest EXTENDS the
    *    recorded version's): each new segment rides
    *    [[graft.ops.Lexical.appendOnce]] with `batchId` = the segment's
    *    version under the `storev` lineage — O(new segments), and a
    *    crash-window replay repairs in place (the journal tag matches);
    *  - BEHIND on a rewrite (overwrite/reindex/import compacted the
    *    chain, or the old version was vacuumed): a pure-delete/add
    *    patch RETRACTS ([[familyRetract]]) — dead docs tombstone
    *    (negative df deltas retreat the termstats, probes anti-join the
    *    tombstones) and added docs append, O(touched) vs re-tokenizing
    *    the corpus; BM25 keeps the Lucene deleted-docs convention
    *    (idf/N/avgdl retreat exactly by the deleted docs' own stats).
    *    Anything else rebuilds, same as the first call.
    *
    * Maintenance is charged to the reader that needs the artifact (the
    * streamAppend-rides-the-commit idiom would tax every CLI save for an
    * artifact most never query); the version watermark makes the lazy
    * catch-up exactly-once regardless of when it runs. Corpus = records
    * with non-blank bodies, per segment — the same corpus
    * [[graft.ops.Lexical.scoreBm25]] sees, so the two hybrid paths rank
    * identically (LexicalSpec's bit-exactness contract). Returns the arm
    * the walk took. */
  private def ensureLexical(): String =
    ensureArtifact(new ArtifactFamily[Unit](lexDir, "records",
      lastLexMode = _,
      appendSeg = (seg, ver) => graft.ops.Lexical.appendOnce(
        bodyCorpus(Seq(seg)), "id", "body", lexDir,
        batchId = ver, lineage = "storev"),
      retract = (v0, v) => familyRetract(lexDir, v0, v, vector = false)(
        d => graft.ops.Lexical.delete(d, "id", "body", lexDir))(
        a => graft.ops.Lexical.append(a, "id", "body", lexDir)),
      rebuild = v => {
        graft.ops.Lexical.writeIndex(
          bodyCorpus(segments(v, "records")), "id", "body", lexDir)
        Some(())
      },
      serve = () => Some(()),
      beforeLocked = () => beforeLexicalBuildHook()))._2

  /** The engine's one ANN artifact: an [[graft.ops.IvfIndex]] built with
    * codes — one trained coarse quantizer plus PQ codebooks, and one
    * `partitionBy(cell_id)` parquet of (id, embedding, code) that both
    * the IVF and the IVF-PQ routes probe. */
  private def annDir: String = base.resolve("_ann").toString

  /** [[ensureLexical]]'s version-watermark idiom generalized to the
    * vector family: keep the persisted ANN artifact ([[annDir]]) in
    * lockstep with the store's committed `index` chain, so a memo store
    * serves ANN without hand-built indexes. Same arms:
    *
    *  - watermark current → serve the stored quantizers lock-free (no
    *    corpus scan, no stamp re-validation — the version file IS the
    *    freshness proof);
    *  - append-only chain growth → O(new segments) catch-up via
    *    [[graft.ops.IvfIndex.append]] (centroids and codebooks reused,
    *    new rows land as new files in existing cell partitions; a
    *    quantizer does not need retraining for an ingest increment);
    *  - a pure-delete/add patch → the retract fold below;
    *  - any other chain rewrite (reindex/import/overwrite) or torn
    *    artifact → full rebuild from the CAPTURED version's segments
    *    (not the live view — the [[ensureLexical]] race argument
    *    verbatim), with nlist and ksub re-derived from the corpus size.
    *
    * Returns (centroids, codebooks) — None for an empty corpus (no
    * cells to probe — callers fall back to the exact ranking) — and the
    * arm the walk took. */
  private def ensureIvf()
      : (Option[(Array[Array[Float]], Array[Array[Array[Float]]])], String) =
    ensureArtifact(new ArtifactFamily(annDir, "index", lastIvfMode = _,
      appendSeg = (seg, _) => graft.ops.IvfIndex.append(
        readSegments("index", Seq(seg)), "id", "embedding", annDir),
      // RETRACT arm ([[familyRetract]]): a pure-delete/add patch
      // tombstones dead vectors (probes anti-join them until
      // [[graft.ops.IvfIndex.applyDeletes]] compacts the affected cells)
      // and cell-appends added vectors — O(touched), quantizers untouched
      // (a delete perturbs them no more than an ingest increment;
      // occupancy drift is the retrain trigger's job either way)
      retract = (v0, v) => familyRetract(annDir, v0, v, vector = true)(
        d => graft.ops.IvfIndex.delete(d, "id", "embedding", annDir))(
        a => graft.ops.IvfIndex.append(a, "id", "embedding", annDir)),
      rebuild = rebuildIvf,
      serve = () => annQuantizers()))

  private def annQuantizers()
      : Option[(Array[Array[Float]], Array[Array[Array[Float]]])] =
    graft.ops.IvfIndex.metaAt(spark, annDir)
      .flatMap(m => m.codebooks.map((m.centroids, _)))

  /** Rebuild arm of [[ensureIvf]]: train + persist from the captured
    * version's index segments. nlist and ksub scale as min(default,
    * corpus size) so tiny stores train (training requires sample ≥ nlist
    * and ≥ ksub) and grown stores keep bounded cells. A store written by
    * a build that kept IVF and IVF-PQ as two artifacts (`_ivf`,
    * `_ivfpq`) reaches this arm on its first ANN call, since [[annDir]]
    * has no watermark yet; the superseded dirs go once the new artifact
    * is written. */
  private def rebuildIvf(v: Long)
      : Option[(Array[Array[Float]], Array[Array[Array[Float]]])] = {
    val corpus = scanOf(v, "index")
    val n = corpus.count()
    if (n == 0) None
    else {
      graft.ops.IvfIndex.buildIfAbsent(corpus, "id", "embedding",
        math.min(MemoEngine.AnnNlist.toLong, n).toInt, annDir,
        pq = Some((MemoEngine.AnnPqM,
          math.min(MemoEngine.AnnPqKsub.toLong, n).toInt)))
      Seq("_ivf", "_ivfpq").map(base.resolve(_)).foreach(deleteTree)
      annQuantizers()
    }
  }

  /** Occupancy-drift statistic of the maintained ANN artifact:
    * max/median occupancy over non-empty cells (1.0 = perfectly
    * balanced), read straight off the artifact's stamp file — driver
    * metadata, NO Spark job (build, append, and apply each refresh the
    * stored occupancy). [[ensureIvf]]'s append arm deliberately reuses
    * the trained quantizers forever (the right call per ingest
    * increment), so a DRIFTING data distribution piles rows into hot
    * cells and probe cost quietly degrades toward O(hot cell); this is
    * the cheap signal an operator (or [[retrainIvf]]) watches. None
    * when no artifact exists. */
  def ivfSkew(): Option[Double] =
    graft.ops.IvfIndex.readOccupancy(spark, annDir)
      .map(o => graft.ops.IvfIndex.occupancySkew(o.toSeq))

  /** [[ivfSkew]] under its former IVF-PQ name: the IVF and IVF-PQ routes
    * probe one artifact, so the two read the same occupancy. Kept only
    * because the store benchmark reports it as `ops.pq_skew`. */
  def pqSkew(): Option[Double] = ivfSkew()

  /** Retrain-on-drift maintenance for the ANN artifact: bring it current
    * (the standard [[ensureIvf]] walk), then — ONLY if its stored
    * occupancy skew exceeds `maxSkew` (the metadata-only check; a
    * no-drift call never touches data) — retrain the coarse quantizer
    * and the codebooks together and rewrite through
    * [[graft.ops.IvfIndex.compact]] (old codes are meaningless under new
    * centroids). The corpus is the artifact's RECORDED watermark
    * version's index chain, re-read under the artifact build lock
    * (reentrant), never the live version: retraining against a newer
    * corpus would race a concurrent catch-up into double-counting
    * appended rows. Probe parity: the retrain runs the same fixed-seed
    * bounded-sample k-means a fresh build over the same corpus runs, so
    * the post-retrain index serves identically to a from-scratch build
    * (spec-pinned). The reference retrains implicitly on every rebuild
    * (memo_cli.py:272-285); this is that policy made incremental —
    * appends stay O(batch), the retrain fires only on measured drift.
    * Returns true iff a rewrite happened. */
  def retrainIvf(maxSkew: Double = 4.0): Boolean = {
    if (ensureIvf()._1.isEmpty) return false
    ArtifactMeta.withBuildLock(spark, annDir) {
      ArtifactMeta.read(spark, annDir, LexVersionFile)
        .flatMap(_.toLongOption).exists { v0 =>
          graft.ops.IvfIndex.compact(
            scanOf(v0, "index"),
            "id", "embedding", annDir, maxSkew)
        }
    }
  }

  /** Test seam for the FILTERED ANN serving paths ([[annRecall]]/
    * [[pqRecall]] with a filter): (final nprobe, widening retries) of the
    * last filtered query — lets specs pin that an under-filled first
    * probe widened (and a well-filled one didn't). Production never
    * reads it. */
  private[graft] var lastFilteredAnnProbe: Option[(Int, Int)] = None

  /** The filter-as-mask candidate set for the ANN serving paths: ids of
    * live records matching `filterExpr` — derived O(matching segments)
    * (the frame under the compile is already segment-pruned, the
    * [[hybridRecall]] idiom). The mask carries ONLY ids; blank-bodied
    * rows need no special arm because the vector index never held them. */
  private[graft] def annMask(filterExpr: String): DataFrame =
    recordsForFilter(filterExpr)
      .filter(FilterAlgebra.compile(filterExpr, col("metadata")))
      .select(col("id"))

  /** Where a FILTERED probe ladder starts: the caller's nprobe clamped
    * to [1, nlist]; with `adaptive` (the serve front doors) raised to
    * the width the survivor count implies ([[MemoEngine.adaptiveNprobe]]);
    * and with ≤ k survivors jumped straight to the full probe — no
    * intermediate rung can fill k, so the ladder would walk every rung
    * to full probe regardless. Returns (start width, whether that jump
    * skipped rungs — reported as one widening retry). Shared by the
    * single-query ([[widenToFill]]) and batch ([[probeRecallBatch]])
    * ladders so both start identically. */
  private def startProbe(k: Int, nprobe: Int, nlist: Int, survivors: Long,
      adaptive: Boolean): (Int, Boolean) = {
    val base = math.min(math.max(nprobe, 1), nlist)
    if (survivors <= k) (nlist, base < nlist)
    else if (adaptive) (math.min(nlist,
      math.max(base, MemoEngine.adaptiveNprobe(k, nlist, survivors))), false)
    else (base, false)
  }

  /** The probe-WIDENING retry of the single-query filtered probe
    * ([[probeRecall]]): run `pass` at the start width ([[startProbe]]);
    * while the result under-fills k and unprobed cells remain, double
    * nprobe and retry. The fill contract this buys: the result has
    * min(k, total matching survivors) rows — a selective filter can
    * never silently under-fill the way a post-filter of k unfiltered
    * hits would. Each retry re-scans only probed cells, and the
    * doubling makes the total work a geometric series bounded by ~2×
    * the final pass; at nprobe = nlist the probe IS the exact filtered
    * ranking (every cell probed). Collecting is bounded: a pass returns
    * ≤ k rows by construction.
    *
    * `survivors` (the CACHED mask's row count — one job over an
    * in-memory frame) drives the ≤ k shortcut: the SELECTIVE-filter fast
    * path, which is exactly when users filter ANN — the result is the
    * exact ranking of the few survivors at the cost of one probe-all
    * pass instead of log₂(nlist) + 1; zero survivors skips the scan
    * entirely. */
  private def widenToFill(k: Int, nprobe: Int, nlist: Int,
      survivors: Long, adaptive: Boolean)(
      pass: Int => Seq[(Long, Double)]): Seq[(Long, Double)] = {
    if (survivors == 0) {
      lastFilteredAnnProbe = Some((0, 0))
      return Nil
    }
    val (np0, jumped) = startProbe(k, nprobe, nlist, survivors, adaptive)
    var np = np0
    var retries = if (jumped) 1 else 0
    var hits = pass(np)
    while (hits.length < k && np < nlist) {
      np = math.min(np * 2, nlist)
      retries += 1
      hits = pass(np)
    }
    lastFilteredAnnProbe = Some((np, retries))
    hits
  }

  /** An opened probe artifact: its cell count plus the three kernels the
    * probe bodies call — one single-query search returning (id, score,
    * …) ≤ k rows, and the batch search with and without the exact-fill
    * ladder over (query_id, qv) queries. The IVF and IVF-PQ routes
    * differ ONLY here ([[AnnFamily]]). */
  private abstract class AnnProbe(val nlist: Int) {
    def search(qv: Array[Float], k: Int, nprobe: Int,
        allowed: Option[DataFrame], floor: Option[Double]): DataFrame
    def searchBatch(q: DataFrame, k: Int, nprobe: Int,
        floor: Option[Double]): DataFrame
    def searchBatchFill(q: DataFrame, k: Int, nprobe: Int, mask: DataFrame,
        floor: Option[Double], finish: DataFrame => DataFrame)
        : (DataFrame, (Int, Int))
  }

  /** A probe route over the engine-maintained ANN artifact — IVF (raw
    * vectors re-ranked in the probed cells) or IVF-PQ (ADC codes cut to
    * k×refine candidates, then the raw re-rank). `route` is the name
    * [[lastServeRoute]] reports; `open` brings the artifact current
    * ([[ensureIvf]]) and loads it, None on an empty/uncommitted store. */
  private abstract class AnnFamily(val route: String) {
    def open(): Option[AnnProbe]
  }

  private object IvfFamily extends AnnFamily("ann") {
    def open(): Option[AnnProbe] = ensureIvf()._1.map { case (centroids, _) =>
      val idx = graft.ops.IvfIndex.load(spark, annDir)
      new AnnProbe(centroids.length) {
        def search(qv: Array[Float], k: Int, nprobe: Int,
            allowed: Option[DataFrame], floor: Option[Double]) =
          graft.ops.IvfIndex.search(idx, centroids, qv, k, nprobe, allowed,
            rawFloor = floor)
        def searchBatch(q: DataFrame, k: Int, nprobe: Int,
            floor: Option[Double]) =
          graft.ops.IvfIndex.searchBatch(idx, centroids, q, "query_id",
            "qv", k, nprobe, rawFloor = floor)
        def searchBatchFill(q: DataFrame, k: Int, nprobe: Int,
            mask: DataFrame, floor: Option[Double],
            finish: DataFrame => DataFrame) =
          graft.ops.IvfIndex.searchBatchFill(idx, centroids, q, "query_id",
            "qv", k, nprobe, allowed = Some(mask), rawFloor = floor,
            finish = finish)
      }
    }
  }

  /** The compressed route at `refine` candidates per result row: ADC
    * over the artifact's `code` column, then the exact re-rank against
    * the same loaded artifact's `embedding` — candidates and refine
    * vectors come from one version. */
  private final class PqFamily(refine: Int) extends AnnFamily("pq") {
    def open(): Option[AnnProbe] = ensureIvf()._1.map {
      case (centroids, codebooks) =>
        val idx = graft.ops.IvfIndex.load(spark, annDir)
        new AnnProbe(centroids.length) {
          def search(qv: Array[Float], k: Int, nprobe: Int,
              allowed: Option[DataFrame], floor: Option[Double]) =
            graft.ops.PqIndex.searchIvfPq(idx, centroids, codebooks, qv, k,
              nprobe, refine, allowed, rawFloor = floor)
          def searchBatch(q: DataFrame, k: Int, nprobe: Int,
              floor: Option[Double]) =
            graft.ops.PqIndex.searchBatchIvfPq(idx, centroids, codebooks, q,
              "query_id", "qv", k, nprobe, refine, rawFloor = floor)
          def searchBatchFill(q: DataFrame, k: Int, nprobe: Int,
              mask: DataFrame, floor: Option[Double],
              finish: DataFrame => DataFrame) =
            graft.ops.PqIndex.searchBatchFillIvfPq(idx, centroids,
              codebooks, q, "query_id", "qv", k, nprobe, refine,
              allowed = Some(mask), rawFloor = floor, finish = finish)
        }
    }
  }

  /** Approximate semantic recall over the engine-MAINTAINED IVF artifact
    * ([[ensureIvf]]): the query embeds driver-side, its `nprobe` nearest
    * cells prune at FILE-LISTING time (the index is cell-partitioned
    * parquet), and only those cells' rows pay the exact cosine re-rank —
    * O(probed cells), not O(corpus), which is the difference between
    * [[recall]] and a servable ANN path once the store outgrows a
    * brute-force scan. Approximate by design: a true neighbor in an
    * unprobed cell is missed (recall quality vs nprobe is pinned in
    * IvfIndexSpec). Falls back to the exact [[recall]] ranking when the
    * store is empty/uncommitted (nothing to probe). Returns
    * (id, score, body).
    *
    * A `filterExpr` (the reference's filter-determines-candidates
    * contract, memo_cli.py:489-521, on the serving path that exists for
    * stores too big to brute-force) rides in as a candidate MASK: the
    * filter-surviving id set — derived O(matching segments) via the
    * stats-pruned frame — semi-joins the probed cells' rows before
    * scoring ([[graft.ops.IvfIndex.search]]'s `allowed`), so scores are
    * unchanged and cost stays O(probed cells ∩ survivors). An
    * under-filled k triggers the probe-WIDENING retry ([[widenToFill]]):
    * the filtered result is exact-fill — min(k, matching survivors) rows
    * — never a silently short post-filtered list. */
  def annRecall(query: String, k: Int = MemoOps.DefaultK,
      nprobe: Int = 4, filterExpr: Option[String] = None,
      floor: Option[Double] = None): DataFrame =
    probeRecall(IvfFamily, query, k, nprobe, filterExpr, floor,
      adaptive = false)

  /** The ONE single-query probe body both families share ([[annRecall]],
    * [[pqRecall]], the serve front doors, `hybridRecall(ann = true)`):
    * unfiltered → one probe at `nprobe`; filtered → the mask, CACHED so
    * every widening pass reuses it without re-scanning the matching
    * segments, driven through [[widenToFill]] and released before
    * return. `adaptive` starts the ladder bound-aware ([[startProbe]]).
    * Returns the ≤ k collected (id, score) hits, or None on an
    * empty/uncommitted store (no artifact to probe). */
  private def probeHits(family: AnnFamily, query: String, k: Int,
      nprobe: Int, filterExpr: Option[String], floor: Option[Double],
      adaptive: Boolean): Option[Seq[(Long, Double)]] =
    family.open().map { probe =>
      val qv = VectorKernels.hashEmbedFloats(query, VectorKernels.DefaultDim)
      filterExpr match {
        case None =>
          hitsOf(probe.search(qv, k, math.min(nprobe, probe.nlist), None,
            floor))
        case Some(f) =>
          val mask = annMask(f).cache()
          try widenToFill(k, nprobe, probe.nlist, mask.count(), adaptive) {
            np => hitsOf(probe.search(qv, k, np, Some(mask), floor))
          } finally mask.unpersist()
      }
    }

  /** [[probeHits]] as a door's answer: (id, score, body) over local rows,
    * the bodies joined on the driver ([[withBodies]]). An empty store
    * falls back to the exact [[recall]] ranking. */
  private def probeRecall(family: AnnFamily, query: String, k: Int,
      nprobe: Int, filterExpr: Option[String], floor: Option[Double],
      adaptive: Boolean): DataFrame =
    probeHits(family, query, k, nprobe, filterExpr, floor, adaptive)
      .fold(recall(query, k, filterExpr)) { hits =>
        import org.apache.spark.sql.types._
        withBodies(hits.sorted(ScoreOrder),
          filterExpr.fold(records)(recordsForFilter),
          StructType(Seq(StructField("id", LongType, nullable = false),
            StructField("score", DoubleType, nullable = false),
            StructField("body", StringType))))(Row(_, _, _))
      }

  /** A ranked frame's (id, score) rows, collected. */
  private def hitsOf(ranked: DataFrame): Seq[(Long, Double)] =
    ranked.select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Bodies of a serving answer's final ids, from `from`'s records: ONE
    * lookup plan for every door, a semi-join against a broadcast local
    * id frame. The ids ride as data: an `isin` over them would inline
    * each answer's ids into generated code and compile new classes per
    * query. */
  private def bodiesOf(ids: Seq[Long], from: DataFrame)
      : Map[Long, Seq[String]] =
    if (ids.isEmpty) Map.empty
    else {
      import spark.implicits._
      from.select(col("id"), col("body"))
        .join(broadcast(ids.distinct.toDF("id")), Seq("id"), "left_semi")
        .collect().toSeq.groupMap(_.getLong(0))(_.getString(1))
    }

  /** A single-query door's answer over local rows: `hits` are the
    * answer's ids in answer order, each with its values, and `row`
    * builds an answer row from an id, its values and its body (bodies
    * from `from`, [[bodiesOf]]). A hit without a record in `from` drops,
    * as an inner join would drop it. */
  private def withBodies[A](hits: Seq[(Long, A)], from: DataFrame,
      schema: org.apache.spark.sql.types.StructType)(
      row: (Long, A, String) => Row): DataFrame = {
    val bodies = bodiesOf(hits.map(_._1), from)
    graft.ops.IvfIndex.localFrame(spark, hits.flatMap { case (id, a) =>
      bodies.getOrElse(id, Nil).map(row(id, a, _))
    }, schema)
  }

  /** Test seam: which arm the last [[serveRoute]] decision took
    * ("brute" | "ann" | "pq") and the survivor upper bound it decided
    * on. Production never reads it. */
  private[graft] var lastServeRoute: Option[(String, Long)] = None

  /** The filter-aware serving FRONT DOOR — the BENCH_NOTES r14
    * selectivity leg's finding as code: [[serveRoute]] picks the arm
    * (exact pruned brute scan, IVF probe, or compressed IVF-PQ probe)
    * off two driver-side sidecar bounds, never a job; see there for the
    * cost shapes. [[recallServeBatch]], [[hybridServe]] and
    * [[hybridServeBatch]] route through the same function.
    *
    * CONTRACT PARITY across arms: every arm applies [[MemoOps.recall]]'s
    * −0.9 score floor (the reference's, memo_cli.py:294) to the RAW
    * cosine before rounding and before the top-k, so the same query
    * returns the same result SET whichever arm the row-count bound
    * picks — the probe arms are [[annRecall]]/[[pqRecall]]'s probe body
    * (exact-fill contract) with `floor` threaded into the index
    * kernels' refine stage, identical floor semantics to the brute
    * scan's (a raw score in [−0.90005, −0.9) rounds to −0.9000 but is
    * excluded by EVERY arm, and above-floor rows fill top-k slots
    * sub-floor rows would have wasted). The residual divergence is ANN
    * approximation itself, never the floor. */
  def recallServe(query: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None, nprobe: Int = 4,
      bruteRows: Long = 4096L,
      pqBytes: Long = MemoEngine.DefaultServePqBytes): DataFrame =
    // the brute arm is [[recall]]; the probe arms run [[probeRecall]]
    // with the serving floor and the bound-aware ladder start
    serveRoute(filterExpr, bruteRows, pqBytes) match {
      case None => recall(query, k, filterExpr)
      case Some(family) =>
        probeRecall(family, query, k, nprobe, filterExpr,
          floor = Some(MemoOps.ScoreFloor), adaptive = true)
    }

  /** A single-query semantic leg as ranked (id, score) hits — the
    * hybrid doors' vector list: the probe of `route`, or the exact
    * [[recall]] ranking when there is no route (brute) or nothing to
    * probe. */
  private def semanticHits(route: Option[AnnFamily], query: String, k: Int,
      nprobe: Int, filterExpr: Option[String], floor: Option[Double],
      adaptive: Boolean): Seq[(Long, Double)] =
    route.flatMap(probeHits(_, query, k, nprobe, filterExpr, floor,
        adaptive))
      .getOrElse(hitsOf(recall(query, k, filterExpr)))

  /** THE route decision of every serving door. Which arm is cheaper is
    * decided by BOUNDED numbers, not the corpus: the filter's surviving
    * segments' row counts off their (memoized) stats sidecars
    * ([[serveBound]]). When that upper bound is ≤ `bruteRows`, the
    * pruned brute scan is O(bruteRows) whatever the chain or corpus
    * size — take it, it is also EXACT (None). Otherwise (many
    * survivors, a missing sidecar making the bound unknowable, or no
    * filter at all) serve from a probe artifact: unfiltered queries
    * always probe, since with no mask the brute arm would be the full
    * corpus scan the artifacts exist to avoid. A second bound picks
    * WHICH probe: when the candidates' raw vectors ([[serveVecBytes]]
    * — what the probed cells' re-rank would read in the worst case)
    * exceed `pqBytes`, the COMPRESSED family (m-byte ADC codes, ~32×
    * narrower, only k×refine survivors touch raw vectors); under it,
    * the plain IVF probe reads the raw vectors directly. Reports its
    * decision through [[lastServeRoute]]. */
  private def serveRoute(filterExpr: Option[String], bruteRows: Long,
      pqBytes: Long): Option[AnnFamily] = {
    val bound = serveBound(filterExpr)
    val route =
      if (filterExpr.isDefined && bound <= bruteRows) None
      else if (serveVecBytes(bound) > pqBytes) Some(new PqFamily(refine = 4))
      else Some(IvfFamily)
    lastServeRoute = Some((route.fold("brute")(_.route), bound))
    route
  }

  /** [[serveRoute]]'s row bound: Σ sidecar row counts of the filter's
    * stats-surviving segments (all live segments when unfiltered) —
    * driver-side memoized longs, never a job. One missing/undecodable
    * sidecar makes the bound unknowable → Long.MaxValue (price blind as
    * big). */
  private def serveBound(filterExpr: Option[String]): Long = {
    def rowBound(kept: Seq[Int], segs: Seq[String]): Long =
      kept.foldLeft(0L) { (acc, i) =>
        if (acc == Long.MaxValue) acc
        else readMetaStats(segs(i)) match {
          case Some(st) => acc + st.rows
          case None => Long.MaxValue
        }
      }
    filterExpr match {
      case None => currentVersion match {
        case None => 0L
        case Some(v) =>
          val segs = segments(v, "records")
          rowBound(segs.indices, segs)
      }
      case Some(f) => prunedSegmentLists(f) match {
        case None => 0L // undefined store: either arm is empty
        case Some((kept, segs, _)) => rowBound(kept, segs)
      }
    }
  }

  /** The candidate rows' raw-vector footprint — what the probed cells'
    * re-rank would read in the worst case. */
  private def serveVecBytes(rows: Long): Long =
    if (rows == Long.MaxValue) Long.MaxValue
    else rows * graft.functions.VectorKernels.DefaultDim * 4L

  /** The BATCH front door — [[recallServe]]'s routing for a query batch,
    * decided ONCE by [[serveRoute]] (never per query: the bounds depend
    * on the filter, not the query text). The brute arm is
    * [[MemoOps.recallBatch]] over the stats-pruned (records ⨝ index)
    * frame — [[recall]]'s exact contract (metadata filter, −0.9 raw
    * floor, blank skip, HALF_UP round) per query in one pass; the probe
    * arms are the batch probe body (exact-fill ladder included) with the
    * floor re-applied, so the route choice never changes the result set
    * beyond ANN approximation. Returns (query_id, id, score, body),
    * top-k SET per query, unordered, over local rows: the answer is
    * collected on every route, so the driver holds up to
    * k × |queries| rows — slice a very large query set into batches. */
  def recallServeBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None, nprobe: Int = 4,
      bruteRows: Long = 4096L,
      pqBytes: Long = MemoEngine.DefaultServePqBytes): DataFrame =
    serveLegBatch(queries, queryIdCol, queryTextCol, k, filterExpr, nprobe,
      bruteRows, pqBytes, withBody = true)

  /** [[recallServe]]'s batch leg, shared by [[recallServeBatch]] and
    * [[hybridServeBatch]]: brute → [[bruteVecBatch]], probe →
    * [[probeRecallBatch]] with the serving floor and bound-aware start. */
  private def serveLegBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int, filterExpr: Option[String],
      nprobe: Int, bruteRows: Long, pqBytes: Long,
      withBody: Boolean): DataFrame =
    serveRoute(filterExpr, bruteRows, pqBytes) match {
      case None =>
        val ranked = bruteVecBatch(queries, queryIdCol, queryTextCol, k,
          filterExpr)
        if (!withBody) ranked
        else graft.ops.IvfIndex.collectLocal(batchBodies(ranked, filterExpr))
      case Some(family) =>
        probeRecallBatch(family, queries, queryIdCol, queryTextCol, k,
          nprobe, filterExpr, floor = Some(MemoOps.ScoreFloor),
          adaptive = true, withBody)
    }

  /** A batch ranking's (query_id, id, score) joined to the bodies of
    * the records the filter can reach. */
  private def batchBodies(ranked: DataFrame,
      filterExpr: Option[String]): DataFrame =
    ranked
      .join(filterExpr.fold(records)(recordsForFilter)
        .select(col("id"), col("body")), Seq("id"))
      .select(col("query_id"), col("id"), col("score"), col("body"))

  /** Test seam for the FILTERED batch serving paths: (final nprobe,
    * widening rungs) of the last batch ladder, either family — the batch
    * twin of [[lastFilteredAnnProbe]]. Production never reads it. */
  private[graft] var lastBatchWiden: Option[(Int, Int)] = None

  /** The BATCH twin of [[annRecall]] over the SAME maintained IVF
    * artifact — the pipeline serving shape (thousands of queries, ONE
    * pass over the probed cells) that per-query [[annRecall]] calls
    * would turn into per-query jobs. Queries arrive as a DataFrame of
    * (id castable to long, query text); the text embeds IN THE PLAN
    * through the codegen hash-embed kernel (the same murmur3-seed-42
    * arithmetic the driver-side single-query path uses, so batch and
    * single serving rank identically), probe-cell choice and the
    * bounded-heap per-query top-k are [[graft.ops.IvfIndex.searchBatch]]
    * (auto range-split above its maxBatch — the broadcast stays
    * bounded at any batch size).
    *
    * A `filterExpr` rides in as the same O(matching segments) candidate
    * mask the single-query path derives, and the filtered batch carries
    * [[annRecall]]'s EXACT-FILL contract through [[probeRecallBatch]]'s
    * per-query-id ladder. The unfiltered batch stays single-pass
    * approximate — the same contract as unfiltered [[annRecall]], where
    * an under-filled k means the probed cells genuinely lack rows and
    * widening is a quality (nprobe) choice, not a correctness one.
    * Returns (query_id, id, score, body), top-k SET per query,
    * unordered, over local rows: the driver holds up to k × |queries|
    * rows, so slice a very large query set into batches. An
    * empty/uncommitted store returns no rows. */
  def annRecallBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int = MemoOps.DefaultK, nprobe: Int = 4,
      filterExpr: Option[String] = None,
      floor: Option[Double] = None): DataFrame =
    probeRecallBatch(IvfFamily, queries, queryIdCol, queryTextCol, k,
      nprobe, filterExpr, floor, adaptive = false, withBody = true)

  /** The BATCH twin of [[pqRecall]] — [[annRecallBatch]]'s contract on
    * the codes of the engine-maintained ANN artifact: queries embed IN
    * THE PLAN, the probed cells' m-byte codes pay the ADC candidate stage
    * (~32× narrower than the raw vectors), and only the ≤ k×refine
    * survivors per query touch raw vectors for the exact re-rank
    * ([[graft.ops.PqIndex.searchBatchIvfPq]]). The filter mask applies
    * BEFORE the ADC cut, so the cut can never starve the fill. Returns
    * (query_id, id, score, body), top-k SET per query, unordered, over
    * local rows ([[annRecallBatch]]'s driver-memory bound).
    * Empty/uncommitted store → no rows. */
  def pqRecallBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int = MemoOps.DefaultK, nprobe: Int = 4,
      refine: Int = 4, filterExpr: Option[String] = None,
      floor: Option[Double] = None): DataFrame =
    probeRecallBatch(new PqFamily(refine), queries, queryIdCol,
      queryTextCol, k, nprobe, filterExpr, floor, adaptive = false,
      withBody = true)

  /** The ONE batch probe body both families share. The filtered arm's
    * mask is a copy private to the call ([[withCallCopy]]), released
    * before return. Queries the first probe under-fills re-run at
    * doubled nprobe (the kernels' per-query-id fill ladder), so every
    * query returns min(k, its matching survivors) rows while filled
    * queries keep their one-pass cost; the start width is
    * [[startProbe]]'s (≤ k survivors jump every query to the full
    * probe), and an empty mask returns no rows with zero scans. The
    * ladder's answer, body join included, is collected in one plan
    * while its rungs are still cached; the ladder then releases them,
    * so nothing stays pinned past the call. `withBody = false` returns
    * (query_id, id, score) for the hybrid fusion tail. */
  private def probeRecallBatch(family: AnnFamily, queries: DataFrame,
      queryIdCol: String, queryTextCol: String, k: Int, nprobe: Int,
      filterExpr: Option[String], floor: Option[Double], adaptive: Boolean,
      withBody: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("query_id", LongType), StructField("id", LongType),
      StructField("score", DoubleType), StructField("body", StringType)))
    def ranked(hits: DataFrame): DataFrame =
      hits.select(col("query_id"), col("id"), col("score"))
    def answer(hits: DataFrame): DataFrame =
      graft.ops.IvfIndex.collectLocal(
        if (withBody) batchBodies(hits, filterExpr) else ranked(hits))
    family.open() match {
      case Some(probe) =>
        val q = queries.select(
          col(queryIdCol).cast("long").as("query_id"),
          graft.functions.GraftFunctions.embedText(col(queryTextCol))
            .as("qv"))
        filterExpr match {
          case None =>
            val hits = probe.searchBatch(q, k, math.min(nprobe, probe.nlist),
              floor)
            if (withBody) answer(hits) else ranked(hits)
          case Some(f) =>
            withCallCopy(annMask(f)) { mask =>
              val survivors = mask.count()
              if (survivors == 0) {
                lastBatchWiden = Some((0, 0))
                emptyFrame(outSchema)
              } else {
                val (np0, jumped) =
                  startProbe(k, nprobe, probe.nlist, survivors, adaptive)
                val (out, widen) =
                  probe.searchBatchFill(q, k, np0, mask, floor, answer)
                lastBatchWiden =
                  Some(if (jumped) (widen._1, widen._2 + 1) else widen)
                out
              }
            }
        }
      case None => emptyFrame(outSchema)
    }
  }

  /** `use` over `df` materialized into blocks private to this call: a
    * lazy local checkpoint, filled by the first action `use` runs (one
    * job, as a cache() would take) and released once `use` returns.
    * Not cache(): Spark keeps ONE cache entry for identical plans, so
    * two concurrent calls over the same filter would share the mask and
    * every rung cached over it, and the call that finished first would
    * uncache them under the other. A checkpoint is a fresh RDD per
    * call, so the mask and the plans over it are this call's alone.
    * `use` must return nothing that still reads the copy. */
  private def withCallCopy[T](df: DataFrame)(use: DataFrame => T): T = {
    val copy = df.localCheckpoint(eager = false)
    try use(copy)
    finally copy.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Compressed ANN over the codes of the engine-MAINTAINED ANN artifact
    * ([[ensureIvf]]): probe cells prune at file-listing time, the ADC
    * candidate stage reads the m-byte codes (~32× narrower than the raw
    * vectors), and only the k×refine survivors pay the exact cosine
    * re-rank against their raw vectors in the same cells —
    * [[annRecall]]'s probe economics with the candidate scan compressed
    * on top, which is the serving shape once even the probed cells' raw
    * vectors outweigh the I/O budget. Same approximation contract as
    * [[annRecall]] plus PQ
    * quantization error (absorbed by the refine re-rank at these data
    * scales; recall-vs-refine is pinned in PqIndexSpec). Falls back to
    * the exact [[recall]] ranking on an empty/uncommitted store.
    * Returns (id, score, body).
    *
    * A `filterExpr` rides in exactly as [[annRecall]]'s: the O(matching
    * segments) id mask semi-joins the probed cells' CODES before the ADC
    * cut ([[graft.ops.PqIndex.searchIvfPq]]'s `allowed` — every
    * candidate is a filter survivor, so the cut can never starve the
    * fill), and an under-filled k widens nprobe ([[widenToFill]]).
    * Because the ADC stage keeps k×refine ≥ k candidates, under-fill
    * only ever means the probed cells lack survivors — widening, not
    * refine, is the fill knob; refine stays the QUALITY knob (which k
    * when survivors exceed k×refine), PQ's standard approximation. */
  def pqRecall(query: String, k: Int = MemoOps.DefaultK, nprobe: Int = 4,
      refine: Int = 4, filterExpr: Option[String] = None,
      floor: Option[Double] = None): DataFrame =
    probeRecall(new PqFamily(refine), query, k, nprobe, filterExpr, floor,
      adaptive = false)

  private def sigDir: String = base.resolve("_minhash").toString

  /** Test seam: which arm the last [[ensureSignatures]] walk took —
    * "fresh" | "append" | "retract" | "rebuild". Production never
    * reads it. */
  private[graft] var lastSigMode: Option[String] = None

  /** [[lastSigMode]]'s twins for the other maintained families. */
  private[graft] var lastLexMode: Option[String] = None
  private[graft] var lastIvfMode: Option[String] = None

  /** One classified v0→v records diff, shared by every maintenance
    * consumer of the window — the three [[familyRetract]] walks AND the
    * dup-labeling fold ([[tryDupRetract]]) ride the same object, so a
    * patch pays its changefeed classification jobs exactly ONCE per
    * maintenance pass (pre-r19 the dup walk re-ran its own
    * `changesBetween`, and every family re-derived the batch's id spans
    * and emptiness probes — ~3 jobs per family of pure overhead).
    *
    * `dead` = removed rows and edits that blanked the body (the corpus
    * rule every body-indexing family signs under); `added` = brand-new
    * non-blank rows; `edited` = updates whose BODY actually changed
    * (including blank→non-blank resurrections) — metadata-only retags
    * appear in NONE of the three, so the tag-and-retag patch shape is
    * free in every family. Counts and id spans are computed once on the
    * persisted diff (one conditional aggregate) so consumers never pay
    * a per-family count/min/max job; the frames are eagerly truncated
    * (localCheckpoint). `corpusIds` is max(id)+1 at v (the window-size
    * gate's denominator); `liveRows` is the chain's actual row count at
    * v summed from the segments' own stats sidecars (recorded at write
    * time — driver metadata, zero jobs) — the route's denominator, so a
    * heavily-tombstoned store (id space full of holes from removes and
    * compactions) prices its rebuild from what the rebuild would
    * actually scan, not from ids ever minted. A chain with any
    * sidecar-less segment falls back to `corpusIds` (sound: the old
    * over-approximation, biased toward the retract arm). */
  private case class RetractDiff(
      dead: DataFrame, nDead: Long, deadLo: Long, deadHi: Long,
      added: DataFrame, nAdded: Long, addedLo: Long, addedHi: Long,
      edited: DataFrame, nEdited: Long, corpusIds: Long,
      liveRows: Long) {
    /** Rows whose change can perturb any body-derived artifact. */
    def touched: Long = nDead + nAdded + nEdited
  }

  /** Memo of ONE classified retract diff per (v0, v) window, shared
    * across the family walks of a maintenance pass — five walks over
    * the same patch would otherwise re-run the same changefeed
    * classification jobs. Version pairs are immutable once committed,
    * so an entry can never go stale; the newest window evicts the
    * previous one (the id frames are localCheckpointed, reclaimed by
    * the ContextCleaner once unreferenced). Computation holds the lock:
    * a concurrent family walk on the same window would only re-run the
    * identical jobs it is waiting to skip. */
  private var retractDiffMemo
      : Option[(Long, Long, Option[RetractDiff])] = None
  private val retractDiffLock = new Object

  private def retractableDiff(v0: Long, v: Long)
      : Option[RetractDiff] = retractDiffLock.synchronized {
    retractDiffMemo match {
      case Some((m0, m1, out)) if m0 == v0 && m1 == v => out
      case _ =>
        val out = classifyRetractDiff(v0, v)
        retractDiffMemo = Some((v0, v, out))
        out
    }
  }

  /** The chain's ROW COUNT at `v`, summed from the segments' stats
    * sidecars — recorded when each segment was written, so the route
    * prices the rebuild from driver metadata with zero jobs. None when
    * any segment lacks a decodable sidecar (pre-stats stores,
    * `metaStatsSidecars = false`): the caller falls back to the
    * max(id)+1 over-approximation. Counts rows physically present
    * (blank-bodied soft deletes included — they are scanned either
    * way), not ids ever minted. */
  private def liveRowsAt(v: Long): Option[Long] = {
    val counts = segments(v, "records").map(s => readMetaStats(s).map(_.rows))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  private def emptyIdFrame: DataFrame = emptyFrame(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))))

  private def classifyRetractDiff(v0: Long, v: Long)
      : Option[RetractDiff] = {
    if (v0 >= v || !Files.isDirectory(versionDir(v0))) return None
    val diff =
      // unresolvable priors surface as the checked refusal OR as an
      // analysis error from a half-vacuumed chain's missing paths —
      // both mean the same thing here: no incremental window, rebuild
      try changesBetween(v0, v).persist()
      catch {
        case _: IllegalArgumentException => return None
        case _: org.apache.spark.sql.AnalysisException => return None
      }
    try {
      val corpusIds = math.max(storeMaxId(v) + 1, 1L)
      val liveRows = math.max(liveRowsAt(v).getOrElse(corpusIds), 1L)
      val deadCond = col("change") === "removed" || isBlank(col("body"))
      val addCond = col("change") === "added" && !isBlank(col("body"))
      val updCond = col("change") === "updated" && !isBlank(col("body"))
      // ONE aggregate prices the whole window: total size (the
      // corpus-scale gate), both sides' counts AND id spans (so no
      // family re-runs a count/min/max job), and whether any non-blank
      // update exists at all (the v0-side body-compare join below runs
      // ONLY then — a pure-delete patch must not pay a prior-chain scan
      // to prove a vacuous condition)
      val s = diff.agg(
        count(lit(1)).as("n"),
        count(when(deadCond, 1)).as("nd"),
        min(when(deadCond, col("id"))).as("dlo"),
        max(when(deadCond, col("id"))).as("dhi"),
        count(when(addCond, 1)).as("na"),
        min(when(addCond, col("id"))).as("alo"),
        max(when(addCond, col("id"))).as("ahi"),
        count(when(updCond, 1)).as("nu")).collect()(0)
      if (s.getLong(0) * 2 > corpusIds) return None
      val nDead = s.getLong(1)
      val nAdded = s.getLong(4)
      // SMALL-CORPUS PRE-GATE: a window that definitely mutates
      // (dead/added rows — edits rebuild regardless) on a corpus the
      // route will price below the rebuild crossover can never take the
      // fold, whatever the edited-compare resolves to (touched >= nDead
      // + nAdded, and the route's threshold is monotone in touched) —
      // so skip the id-frame checkpoints and the v0 body-compare join
      // outright: the floor exists to spare small stores exactly this
      // classification cost. A zero-dead/zero-added window still pays
      // the edited compare: if it resolves to zero the fold is FREE
      // (watermark advance, no jobs) and must stay available at every
      // corpus size.
      if (retractRouteMinRows > 0 && nDead + nAdded > 0 &&
          liveRows < retractRouteMinRows + (nDead + nAdded) * 4) {
        lastRetractRoute = Some(
          s"rebuild(pregate live=$liveRows touched>=${nDead + nAdded})")
        return None
      }
      val dead =
        if (nDead == 0) emptyIdFrame
        else diff.filter(deadCond).select(col("id")).localCheckpoint(true)
      val added =
        if (nAdded == 0) emptyIdFrame
        else diff.filter(addCond).select(col("id")).localCheckpoint(true)
      // METADATA-ONLY updates are no-ops for every body-derived
      // artifact — only a genuine body change survives into `edited`.
      // The v0-side compare runs EAGERLY here (the memo's contract), so
      // a prior chain vacuumed between the changefeed read and this
      // join surfaces as an analysis error — that is the same
      // "unresolvable window" every other arm classifies as
      // fold-refused, not a crash.
      val (edited, nEdited) =
        if (s.getLong(7) == 0) (emptyIdFrame, 0L)
        else try {
          val e = diff.filter(updCond)
            .join(recordsAt(v0).select(col("id"), col("body").as("body0")),
              Seq("id"))
            .filter(!(col("body") <=> col("body0")))
            .select(col("id")).localCheckpoint(true)
          (e, e.count())
        } catch {
          case _: org.apache.spark.sql.AnalysisException => return None
        }
      Some(RetractDiff(
        dead, nDead, if (s.isNullAt(2)) 0L else s.getLong(2),
        if (s.isNullAt(3)) -1L else s.getLong(3),
        added, nAdded, if (s.isNullAt(5)) 0L else s.getLong(5),
        if (s.isNullAt(6)) -1L else s.getLong(6),
        edited, nEdited, corpusIds, liveRows))
    } finally diff.unpersist()
  }

  /** COST ROUTE between a classified window's incremental retract fold
    * and the family's honest rebuild — the `recallServe` arm-routing
    * discipline applied to maintenance. The retract arm's cost is a
    * FIXED job count (classification + per-family tombstone/journal
    * writes) plus O(touched); the rebuild's is O(corpus) re-derivation.
    * Below a corpus size the fixed jobs dominate and the rebuild is
    * genuinely cheaper — measured crossover in BENCH_NOTES r19/r20;
    * RetractRouteFloorSpec pins that a fold's job count does not grow
    * with the corpus — so the route takes the fold only when
    * `corpusIds >= retractRouteMinRows + touched * 4` (both sides priced
    * from driver metadata already in the memoized diff: zero extra
    * jobs). A zero-touch window (layout-only rewrite, metadata retags)
    * is FREE either way and never consults the route. The rebuild side
    * is priced from the chain's RECORDED row count ([[liveRowsAt]] —
    * sidecar metadata, zero jobs; max(id)+1 only as the sidecar-less
    * fallback), so a heavily-tombstoned store flips to the rebuild at
    * its true crossover instead of pricing ids that no longer exist.
    * The threshold is a test seam (`retractRouteMinRows <= 0` forces
    * the fold OUTRIGHT — the touched term is skipped too, so retract-arm
    * fixtures of any delete ratio stay on the fold) and the decision
    * lands in [[lastRetractRoute]]. */
  private[graft] var retractRouteMinRows: Long =
    MemoEngine.DefaultRetractRouteMinRows

  /** Test seam: the last consulted route decision —
    * "retract(corpus=N touched=K)" or "rebuild(corpus=N touched=K)".
    * Production never reads it. */
  private[graft] var lastRetractRoute: Option[String] = None

  private def routeRetract(d: RetractDiff): Boolean = {
    // floor <= 0 is the test seam's FORCE-FOLD setting (the touched
    // term alone could still route an aggressive small-fixture delete
    // to the rebuild and break every retract-mode pin)
    val take = retractRouteMinRows <= 0 ||
      d.liveRows >= retractRouteMinRows + d.touched * 4
    lastRetractRoute = Some(
      s"${if (take) "retract" else "rebuild"}" +
        s"(live=${d.liveRows} touched=${d.touched})")
    take
  }

  /** One chain at `ver`, restricted to segments whose `_idrange`
    * sidecar can intersect [lo, hi] — the retract folds' row fetch,
    * priced at file-listing time so a patch's dead/added rows read
    * O(touched segments) of the prior snapshot, not the chain.
    * Sidecar-less segments stay (sound over-approximation, the
    * [[graft.filter.SegmentStats]] rule); the index chain prunes by
    * positional pairing only when the manifests pair. */
  private def chainAtForIdSpan(ver: Long, lo: Long, hi: Long,
      vector: Boolean): DataFrame = {
    val segs = segments(ver, "records")
    val kept = segs.indices.filter { i =>
      readIdRanges(segs(i)) match {
        case Some(rs) => rs.exists { case (a, b) => a <= hi && b >= lo }
        case None => true
      }
    }
    if (!vector) {
      if (kept.isEmpty) emptyFrame(YamlIO.recordSchema)
      else readSegments("records", kept.map(segs))
    } else {
      val segsI = segments(ver, "index")
      if (segsI.size != segs.size) indexAt(ver) // unpaired: sound fallback
      else if (kept.isEmpty) emptyFrame(MemoEngine.IndexSchema)
      else readSegments("index", kept.map(segsI))
    }
  }

  /** The retract fold's intent journal: its delete+append ops are NOT
    * idempotent (stamp facts retreat additively — a replay would retreat
    * them twice, silently corrupting BM25 stats and fingerprints), so a
    * crash window must be DETECTED, never refolded. Written before the
    * first mutating op, cleared after the family watermark advances; a
    * live journal on entry refuses the retract and the honest rebuild —
    * which rewrites the artifact wholesale and sweeps tombstones —
    * clears it. The dup-labeling fold needs none of this: min-label
    * edges are idempotent and its publish is a pointer swing. */
  private val RetractJournal = "_retract_journal"

  /** One family's retract fold over a classified diff — the
    * delete-then-append application every maintained family shares:
    * text families (vector = false) fetch the non-blank (id, body)
    * corpus rows, vector families the (id, embedding) index rows. Dead
    * rows fetch their v0-side state (the additive stamp facts retreat
    * against EXACTLY what was indexed), added rows their v-side state;
    * both fetches prune the chain by the batch's id SPAN (already in
    * the memoized diff — no per-family min/max job), and an EMPTY side
    * skips its fetch entirely — so a pure-delete patch never scans the
    * live chain and a metadata-only patch scans nothing at all. A
    * window with a body EDIT never folds here: every family's append
    * contract refuses re-adding an id with a pending tombstone (the old
    * rows are physically present, so the tombstone would mask the new
    * ones while the stamp advanced) — so content rewrites pay the
    * rebuild they genuinely need. Mutating folds consult the COST ROUTE
    * first ([[routeRetract]] — below the measured crossover the honest
    * rebuild is cheaper than the fold's fixed job count), run under the
    * [[RetractJournal]] crash guard, and advance the family watermark
    * themselves before clearing it. False — an edit, a route-to-rebuild
    * decision, a live journal (crashed prior fold), a torn artifact, or
    * a tombstone-contract violation (a re-minted id colliding with a
    * pending delete) — falls to the family's rebuild, which sweeps
    * tombstones and the journal.
    *
    * EMPTY-INPUT CONTRACT: a side with a nonzero id set can still fetch
    * ZERO chain rows (every dead id was already blank at v0, every added
    * id blank at v) — emptiness is a runtime property this fold
    * deliberately does not probe (the probe was a per-side count job,
    * dropped r19). Every family's `deleteRows`/`appendRows` closure must
    * therefore be a SAFE NO-OP on an empty frame: the three families
    * satisfy it structurally (tombstone append of an empty set writes an
    * empty delta, signature/postings/centroid appends of zero rows add
    * nothing, and stamp facts retreat by the empty set's zero totals) —
    * the journal write-then-clear around a vacuous fold is then just a
    * watermark advance. */
  private def familyRetract(artDir: String, v0: Long, v: Long,
      vector: Boolean)(
      deleteRows: DataFrame => Unit)(appendRows: DataFrame => Unit)
      : Boolean = {
    if (ArtifactMeta.read(spark, artDir, RetractJournal).isDefined)
      return false // crashed prior fold: only the rebuild may repair
    retractableDiff(v0, v).exists { d =>
      def rowsFor(ver: Long, ids: DataFrame, n: Long, lo: Long,
          hi: Long): Option[DataFrame] =
        if (n == 0) None // empty side: no fetch, no job
        else {
          val base = chainAtForIdSpan(ver, lo, hi, vector)
          val rows =
            if (vector) base.select(col("id"), col("embedding"))
            else base.filter(!isBlank(col("body")))
              .select(col("id"), col("body"))
          Some(rows.join(ids, Seq("id"), "left_semi"))
        }
      try {
        if (d.nEdited > 0) false // edits can't fold (append contract)
        else if (d.touched == 0) true // nothing mutates: free fold
        else if (!routeRetract(d)) false // rebuild priced cheaper
        else {
          val del = rowsFor(v0, d.dead, d.nDead, d.deadLo, d.deadHi)
          val add = rowsFor(v, d.added, d.nAdded, d.addedLo, d.addedHi)
          ArtifactMeta.write(spark, artDir, RetractJournal, v.toString)
          del.foreach(deleteRows)
          add.foreach(appendRows)
          // advance the watermark OURSELVES before clearing the journal:
          // the caller's write (ensureArtifact) lands after this arm
          // returns, and a crash between the two would otherwise replay
          // the fold against an already-folded artifact
          ArtifactMeta.write(spark, artDir, LexVersionFile, v.toString)
          ArtifactMeta.delete(spark, artDir, RetractJournal)
          true
        }
      } catch {
        case _: IllegalStateException => false // torn/contract: rebuild
        case _: org.apache.spark.sql.AnalysisException => false // vacuumed
      }
    }
  }

  private def familyWatermark(artDir: String): Option[Long] =
    ArtifactMeta.read(spark, artDir, LexVersionFile)
      .flatMap(_.toLongOption).filter(_ >= 0)

  /** The version-watermark idiom on the DEDUP family: keep a persisted
    * MinHash signature artifact ([[graft.ops.Dedup.writeSignatures]])
    * in lockstep with the store's records, so admission checks scan 64
    * longs/doc instead of re-minhashing the corpus. Append-only growth
    * signs just the new segments ([[graft.ops.Dedup.appendSignatures]],
    * O(batch)); a pure-delete/add patch retracts ([[familyRetract]]):
    * dead rows tombstone ([[graft.ops.Dedup.deleteSignatures]] —
    * [[graft.ops.Dedup.loadSignatures]] anti-joins them, so every
    * signature consumer sees the retraction immediately) and added rows
    * are signed, O(touched) instead of re-minhashing the corpus; other
    * rewrites rebuild from the captured version. Corpus = non-blank
    * bodies (the [[ensureLexical]] corpus rule). Returns the arm the
    * walk took. */
  private def ensureSignatures(): String =
    ensureArtifact(new ArtifactFamily[Unit](sigDir, "records",
      lastSigMode = _,
      appendSeg = (seg, _) => graft.ops.Dedup.appendSignatures(
        bodyCorpus(Seq(seg)), "id", "body", sigDir),
      retract = (v0, v) => familyRetract(sigDir, v0, v, vector = false)(
        d => graft.ops.Dedup.deleteSignatures(d, "id", "body", sigDir))(
        a => graft.ops.Dedup.appendSignatures(a, "id", "body", sigDir)),
      rebuild = v => {
        graft.ops.Dedup.writeSignatures(
          bodyCorpus(segments(v, "records")), "id", "body", sigDir)
        Some(())
      },
      serve = () => Some(())))._2

  /** Admission gate against the engine-MAINTAINED signature artifact
    * ([[ensureSignatures]]): the rows of `batch` (id, body) whose body
    * near-dups NOTHING already stored — the incremental-ingest dedup
    * cycle ([[graft.ops.Curation.admitNewAgainstSignatures]]) with the
    * artifact maintenance owned by the engine. Cost is O(batch) minhash
    * work + one scan of the signature artifact; the stored corpus text
    * is never read. An empty/uncommitted store admits everything. */
  def admitNew(batch: DataFrame, minJaccard: Double = 0.8): DataFrame =
    currentVersion match {
      case Some(_) =>
        ensureSignatures()
        graft.ops.Curation.admitNewAgainstSignatures(batch,
          graft.ops.Dedup.loadSignatures(spark, sigDir), "id", "body",
          minJaccard)
      case None => batch
    }

  private def dupDir: String = base.resolve("_dupgroups").toString
  private val DupLabelsPtr = "_labels_ptr"
  private val DupSpecFile = "_dup_spec"

  /** Test seam: which arm the last [[dupGroups]] walk took — "fresh" |
    * "append" | "retract" | "rebuild". Production never reads it. */
  private[graft] var lastDupMode: Option[String] = None

  private def dupLabelsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("component",
      org.apache.spark.sql.types.LongType)))

  private def serveDupLabels(): DataFrame =
    ArtifactMeta.read(spark, dupDir, DupLabelsPtr) match {
      case Some(ptr)
          if Files.isDirectory(Paths.get(dupDir).resolve(ptr)) =>
        // manifest-sharded generation: read the live shards, which may
        // live in OLDER generation dirs (carry-by-reference); a legacy
        // (pre-shard) generation reads as one whole dir
        val paths = shardPaths(Paths.get(dupDir), ptr)
        if (paths.isEmpty) emptyFrame(dupLabelsSchema)
        else spark.read.schema(dupLabelsSchema).parquet(paths: _*)
      case _ => emptyFrame(dupLabelsSchema)
    }

  /** Test seam: the last labeling publish's shape — (shards written,
    * shards carried by reference). Production never reads it. */
  private[graft] var lastDupPublish: Option[(Int, Int)] = None

  private def dupShards = new ShardedArtifact(Paths.get(dupDir), "labels-",
    "component", countRows = false)

  /** Publish a labeling generation through [[ShardedArtifact]] — the
    * view-state shard idiom on the labeling artifact, grid-sharded on
    * the component's hash cell: by default the FULL labeling (rebuild
    * arm / first build); a fold passes the shards it `carried` by
    * reference and its pitch cap. The manifest lands in the generation
    * dir, THEN the pointer swings (a crash leaves the old labeling
    * live), then the reference-aware TTL sweep. */
  private def publishDupLabels(content: DataFrame,
      carried: Seq[ViewShard] = Nil,
      widthCap: Int = MemoEngine.ViewShardCells): Unit = {
    val (_, nWritten) = dupShards.publish(
        content.select(col("id").cast("long").as("id"),
          col("component").cast("long").as("component")), "",
        ArtifactMeta.read(spark, dupDir, DupLabelsPtr), carried,
        widthCap) { (gen, _) =>
      ArtifactMeta.write(spark, dupDir, DupLabelsPtr, gen)
    }
    lastDupPublish = Some((nWritten, carried.size))
  }

  /** O(touched) publish of a fold's labeling DELTA — the [[refreshView]]
    * carry-by-reference idiom on the labeling artifact: `dropComps` is
    * the set of component ids whose rows must leave the stored labeling
    * (pruned touched components + components the fold relabeled),
    * `upserts` the (id, component) rows landing in their place. Only
    * shards whose cell interval intersects the delta's cells are read
    * and rewritten; every untouched shard carries into the new
    * generation's manifest BY REFERENCE — its files are neither read nor
    * rewritten, so a fold's publish costs O(touched components + batch),
    * not O(labels) (pre-r19 every fold rewrote the full labels table).
    * Both delta frames are delta-bounded by construction and broadcast
    * into the survivor scan. A missing prior generation publishes the
    * delta as the full labeling (nothing to carry). */
  private def publishDupLabelsDelta(dropComps: DataFrame,
      upserts: DataFrame): Unit = {
    val dirP = Paths.get(dupDir)
    ArtifactMeta.read(spark, dupDir, DupLabelsPtr)
      .filter(ptr => Files.isDirectory(dirP.resolve(ptr))) match {
      case None => publishDupLabels(upserts)
      case Some(ptr) =>
        val drops = dropComps
          .select(col("component").cast("long").as("component")).persist()
        val ups = upserts.select(col("id").cast("long").as("id"),
          col("component").cast("long").as("component")).persist()
        try {
          val (touchedShards, carried, widthCap) = dupShards.split(ptr,
            drops.unionByName(ups.select(col("component"))))
          val old =
            if (touchedShards.isEmpty) emptyFrame(dupLabelsSchema)
            else spark.read.schema(dupLabelsSchema).parquet(
              touchedShards.map(s => dirP.resolve(s.path).toString): _*)
          // survivors: drop whole changed/pruned components. The
          // upsert-id anti-join is belt-and-braces against a fold
          // violating the delta invariant (every upserted id's prior
          // component must be in dropComps) — same write job, and a
          // doubled label row can then never serve
          val survivors = old
            .join(broadcast(drops), Seq("component"), "left_anti")
            .join(broadcast(ups.select(col("id"))), Seq("id"), "left_anti")
          publishDupLabels(survivors.unionByName(ups), carried, widthCap)
        } finally { drops.unpersist(); ups.unpersist() }
    }
  }

  /** RETRACT/PATCH fold of the dup-group labeling — the incremental arm
    * for chain REWRITES, where the append fold cannot run but a full
    * corpus-wide [[graft.ops.Dedup.components]] recompute is almost
    * always overkill: a patch only perturbs the components that CONTAIN
    * a touched id. Deletes can only SPLIT such components, edits/adds
    * can split them or MERGE them with others — and a merge shows up as
    * a candidate pair with a touched endpoint, which
    * [[graft.ops.Dedup.componentsIncremental]]'s collapse step relabels
    * through the untouched side's representative. So the fold is:
    *
    *  1. classify the v0→v diff — via the SHARED memo
    *     ([[retractableDiff]]): the family walks of the same maintenance
    *     pass already paid the changefeed classification, this fold
    *     re-uses their frames and counts;
    *  2. drop every prior component containing a touched id
    *     (components are dropped WHOLE — the self-labeling invariant
    *     the incremental fold requires survives the prune);
    *  3. regenerate candidate pairs restricted to {touched components'
    *     surviving members} ∪ {added/edited live ids} from the
    *     maintained signature artifact ([[ensureSignatures]] already
    *     brought it to v in this walk) — O(touched) rows cross the
    *     bucket-join shuffle, the corpus is the build side;
    *  4. fold those pairs over the pruned labeling.
    *
    * Pairs between two UNtouched docs need no regeneration: unchanged
    * bodies mean unchanged signatures, so any such pair was already in
    * the prior labeling's edge set (the same hot-bucket-cap caveat as
    * the append fold: a cap-evicted pair resurfacing after corpus churn
    * is accepted drift in every incremental arm, and the honest rebuild
    * re-grounds it). The fold is IDEMPOTENT — a crash between the label
    * publish and the watermark stamp re-runs it against the already-
    * folded labeling and recomputes the same touched components from
    * the same signatures — so the append arm's crash-window argument
    * carries over verbatim.
    *
    * Falls back (returns false → caller takes the honest rebuild) when
    * the prior version is gone (vacuumed), the diff is corpus-scale
    * (a reindex re-sequenced every id — retract would relabel
    * everything the slow way), there is no prior watermark, or the COST
    * ROUTE prices the rebuild cheaper ([[routeRetract]] — below the
    * measured crossover the fold's fixed job count loses to relabeling
    * a small corpus outright). A diff that is EMPTY BY CONTENT
    * (layout-only rewrites: [[clusterBy]], [[compact]]; metadata-only
    * retags) folds to zero work — the prior labeling is already correct
    * and only the watermark advances. The publish is the SHARDED delta
    * ([[publishDupLabelsDelta]]): dropped/changed components rewrite
    * only the shards they live in, everything else carries by
    * reference. */
  private def tryDupRetract(v0: Long, v: Long, minJaccard: Double): Boolean =
    // the classified window is the SHARED memo ([[retractableDiff]]) —
    // the family walks of the same maintenance pass already paid the
    // changefeed classification, this fold re-uses their frames/counts
    // (pre-r19 it re-ran its own changesBetween + count, ~3 jobs)
    retractableDiff(v0, v).exists { d =>
      // layout-only rewrites AND metadata-only retags fold to zero
      // work: an unchanged body means an unchanged signature, so the
      // pair set — and therefore the labeling — cannot have moved
      if (d.touched == 0) true
      else if (!routeRetract(d)) false // rebuild priced cheaper
      else {
        val labels = serveDupLabels()
        // touched = rows whose change can perturb the pair graph: dead
        // (removed/blanked — their stale label rows must go), added,
        // and body-edited (their old pairs are stale, their new body
        // pairs fresh). Metadata-only updates are in NONE of the three.
        val touchedIds = d.dead.unionByName(d.added)
          .unionByName(d.edited).distinct()
        val touchedComps = labels.join(touchedIds, Seq("id"), "left_semi")
          .select(col("component")).distinct()
        val pruned = labels.join(touchedComps, Seq("component"),
          "left_anti")
        val survivors = labels
          .join(touchedComps, Seq("component"), "left_semi")
          .select(col("id")).join(d.dead, Seq("id"), "left_anti")
        val fresh = d.added.unionByName(d.edited)
        val pairs = graft.ops.Dedup.signaturePairs(
          graft.ops.Dedup.loadSignatures(spark, sigDir),
          minJaccard = minJaccard,
          newIds = Some(survivors.unionByName(fresh).distinct()))
        // the fold's delta (changed components + replacement rows)
        // applies to only the shards it touches — untouched label
        // shards carry by reference ([[publishDupLabelsDelta]])
        val (chg, ups) = graft.ops.Dedup.componentsIncrementalDelta(
          pruned, pairs, "a", "b")
        publishDupLabelsDelta(
          touchedComps.unionByName(chg).distinct(), ups)
        true
      }
    }

  /** The engine-maintained TRANSITIVE duplicate-group labeling:
    * (id, component) for every live doc in a near-dup group of size ≥ 2
    * (component = the group's smallest member id), kept in lockstep with
    * the records chain by the version-watermark idiom. This is
    * [[graft.ops.Dedup.nearDupClusters]] turned into a STORE artifact:
    * fresh → two metadata reads and a lock-free parquet serve; an
    * append-only step folds with the [[admitNew]] cost shape — O(batch)
    * minhash/shuffle work plus NARROW corpus-scale scans, never the
    * text: the batch's candidate pairs come from the maintained
    * signature artifact ([[ensureSignatures]] — 64 longs/doc, one scan
    * as the bucket join's build side, the probe side semi-joined to the
    * batch ids by [[graft.ops.Dedup.signaturePairs]]' `newIds` so only
    * O(batch) rows cross the shuffle), and
    * [[graft.ops.Dedup.componentsIncremental]] folds them into the
    * stored labeling — the label table (two longs/group, only
    * duplicate-group members) is scanned twice, never shuffled, and the
    * iterative rounds run on the O(batch) collapsed graph;
    * rewrites/patches with a resolvable prior fold INCREMENTALLY too
    * ([[tryDupRetract]] — only components containing a touched id are
    * relabeled, O(touched), so steady soft-deletes never pay a
    * corpus-wide recompute), and only corpus-scale rewrites (reindex's
    * id re-sequencing) or a vacuumed prior rebuild honestly from the
    * signature artifact ([[graft.ops.Dedup.components]] over the full
    * pair set). Each fold republishes pointer-swung generations
    * ([[publishDupLabels]]); a crash between the pointer swing and the
    * version stamp refolds the delta on the next walk — edges are
    * idempotent under min-label components, so the refold converges to
    * the same labeling. The threshold participates in artifact identity
    * (a different `minJaccard` invalidates the stamp under the lock and
    * rebuilds, the view spec-change discipline). Empty/uncommitted
    * stores serve the empty labeling. */
  def dupGroups(minJaccard: Double = 0.8): DataFrame =
    dupGroupsArm(minJaccard)._1

  /** [[dupGroups]] with the arm its serving walk took ("empty" on an
    * empty/uncommitted store) — what [[maintain]] reports. */
  private def dupGroupsArm(minJaccard: Double): (DataFrame, String) = {
    if (currentVersion.isEmpty) return (emptyFrame(dupLabelsSchema), "empty")
    val spec = s"j$minJaccard"
    // Validated serve under concurrent SPEC churn: a caller with a
    // different threshold can restamp the spec and republish between
    // this walk and the serve below, handing this caller a labeling
    // built at the OTHER threshold with no indication. The walk runs in
    // a bounded retry loop; an attempt's result only escapes when the
    // post-serve re-reads prove it is OURS:
    //  - the spec still reads `spec` — a foreign threshold's walk
    //    always restamps first, so a completed foreign walk shows here;
    //  - the watermark is non-negative — every restamp writes -1 BEFORE
    //    the spec, so a foreign spec stamped but not yet rebuilt cannot
    //    masquerade as ours;
    //  - the labels pointer did not move across the validation reads —
    //    each publish mints a fresh generation name, and every
    //    post-restamp walk publishes, so (spec ours ∧ watermark ≥ 0 ∧
    //    pointer unmoved) proves the resolved generation was published
    //    by a walk stamped with OUR spec.
    // Staleness against concurrent APPENDS is not an error (the
    // watermark semantic is "labels as of the recorded version"), so
    // the live version is deliberately not part of the check — an
    // appender racing this serve never forces a retry.
    var attempt = 0
    while (true) {
      attempt += 1
      val arm = dupGroupsWalk(spec, minJaccard)
      val ptrBefore = ArtifactMeta.read(spark, dupDir, DupLabelsPtr)
      val out = serveDupLabels()
      val specOk = ArtifactMeta.read(spark, dupDir, DupSpecFile)
        .contains(spec)
      val markOk = ArtifactMeta.read(spark, dupDir, LexVersionFile)
        .flatMap(_.toLongOption).exists(_ >= 0)
      val ptrOk = ArtifactMeta.read(spark, dupDir, DupLabelsPtr) == ptrBefore
      if (specOk && markOk && ptrOk) return (out, arm)
      if (attempt >= 5) throw new IllegalStateException(
        s"dupGroups($minJaccard) could not serve a threshold-consistent " +
          s"labeling after $attempt attempts — concurrent callers are " +
          "thrashing the spec with different thresholds")
    }
    throw new IllegalStateException("unreachable")
  }

  /** One maintenance walk of the dup-labeling artifact at a stamped
    * spec — [[dupGroups]]' body, factored out of its validated-serve
    * retry loop. Returns the arm it took. */
  private def dupGroupsWalk(spec: String, minJaccard: Double): String = {
    if (!ArtifactMeta.read(spark, dupDir, DupSpecFile).contains(spec))
      ArtifactMeta.withBuildLock(spark, dupDir) {
        if (!ArtifactMeta.read(spark, dupDir, DupSpecFile).contains(spec)) {
          ArtifactMeta.write(spark, dupDir, LexVersionFile, "-1")
          ArtifactMeta.write(spark, dupDir, DupSpecFile, spec)
        }
      }
    ensureArtifact(new ArtifactFamily[Unit](dupDir, "records",
      lastDupMode = _,
      appendSeg = (seg, _) => {
        val pairs = graft.ops.Dedup.signaturePairs(
          graft.ops.Dedup.loadSignatures(spark, sigDir),
          minJaccard = minJaccard,
          newIds = Some(bodyCorpus(Seq(seg)).select(col("id"))))
        // O(touched) publish: the fold's delta rewrites only the label
        // shards it touches ([[publishDupLabelsDelta]])
        val (chg, ups) = graft.ops.Dedup.componentsIncrementalDelta(
          serveDupLabels(), pairs, "a", "b")
        publishDupLabelsDelta(chg, ups)
      },
      // a resolvable prior folds the patch incrementally (touched
      // components only) before the corpus-wide from-scratch labeling
      retract = (v0, v) => tryDupRetract(v0, v, minJaccard),
      rebuild = _ => {
        val pairs = graft.ops.Dedup.signaturePairs(
          graft.ops.Dedup.loadSignatures(spark, sigDir),
          minJaccard = minJaccard)
        publishDupLabels(graft.ops.Dedup.components(pairs, "a", "b"))
        Some(())
      },
      serve = () => Some(()),
      // skip the signature re-walk when its watermark is already at the
      // live version: the walk would be two metadata reads and a no-op,
      // but it stomps [[lastSigMode]] to "fresh" — a maintain() pass that
      // just took the retract/rebuild arm must keep its recorded mode
      // (seam hygiene; the TOCTOU here is the same lock-free fresh-serve
      // race ensureSignatures itself runs)
      beforeLocked = () =>
        if (!currentVersion.exists(v => familyWatermark(sigDir).contains(v)))
          ensureSignatures()))._2
  }

  /** Probe the maintained postings artifact, absorbing the transient
    * refusal window of an in-flight append: a pending journal makes the
    * lock-free [[graft.ops.Lexical.searchBm25]] throw for the duration
    * of a micro-batch commit (indistinguishable from a crash without
    * the lock). A normal commit clears in well under the ~3 s this
    * backoff covers; a journal still live after that is a real crash
    * and the final throw carries the rebuild guidance. */
  private def searchBm25Retrying(terms: Seq[String], k: Int,
      allowed: Option[DataFrame]): DataFrame = {
    val maxAttempts = 6
    var attempt = 1
    while (true) {
      try return graft.ops.Lexical.searchBm25(spark, lexDir, terms, k,
        allowed)
      catch { case e: graft.ops.Lexical.PendingAppendException =>
        if (attempt >= maxAttempts) throw e
        Thread.sleep(100L * attempt)
        attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Recall: exact full ranking + filter + score floor + top-k
    * (memo_cli.py:288-298, 489-521). Returns (id, score, body). */
  def recall(query: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None): DataFrame = {
    val qv = VectorKernels.hashEmbedFloats(query, VectorKernels.DefaultDim)
    val qvCol = lit(qv) // broadcast literal — no shuffle of the corpus
    // a metadata filter prunes BOTH sides of the score scan before any
    // file reads: record segments by their stats sidecars, index
    // segments through the positional manifest pairing
    val (base, idx) = filterExpr.fold((records, index))(prunedPair)
    val recs = base.join(idx, Seq("id"))
    MemoOps.recall(recs, qvCol, k, filterExpr)
  }

  /** Hybrid recall (beyond the reference, which ranks by embedding cosine
    * only — memo_cli.py:291): the query's tokens score the store lexically
    * (BM25) while the hash-embedded query vector ranks it semantically
    * ([[MemoOps.recall]]); the two k-bounded lists merge by reciprocal
    * rank ([[graft.ops.Lexical.rrfFuse]]). Rank-based fusion needs no
    * calibration between the BM25 and cosine scales. Output carries both
    * per-list ranks (null where one list missed) — a keyword-only hit and
    * a semantic-only hit both surface.
    *
    * The BM25 leg serves O(probe) from the store's maintained postings
    * artifact ([[ensureLexical]]) — on a committed store it runs ZERO
    * tokenize-the-corpus jobs, filtered or not (MemoEngineSpec counter
    * pins). A metadata filter rides INTO the artifact probe as a
    * candidate mask: the filter-surviving id set semi-joins the
    * term-pruned postings before scoring
    * ([[graft.ops.Lexical.searchBm25]]'s `allowedIds`), exact at every
    * selectivity. Filter-as-mask semantics (the Lucene convention): idf/
    * N/avgdl stay global, so a doc scores the same filtered or not —
    * which is also what keeps the filtered path O(probe); per-filtered-
    * subset statistics would force a tokenize pass over the survivors.
    * Only an uncommitted (empty-version) store falls back to the inline
    * scorer. A probe that lands in an in-flight append's journal window
    * retries briefly before surfacing the error (the window is a normal
    * micro-batch commit, not a torn artifact). A query with no tokens
    * degrades to the semantic ranking alone.
    *
    * `ann = true` swaps the semantic leg's exact corpus ranking for the
    * engine-maintained IVF probe ([[annRecall]] at `annNprobe` cells,
    * filter mask and widening fill included) — with it BOTH hybrid legs
    * serve O(probe) from maintained artifacts, the shape a store that
    * outgrew brute force needs. The default stays exact: rank fusion
    * amplifies candidate-list differences, so the approximate leg is
    * opt-in (at `annNprobe` = nlist the two arms are identical —
    * spec-pinned). */
  def hybridRecall(query: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None, perList: Int = 50,
      ann: Boolean = false, annNprobe: Int = 4): DataFrame =
    hybridFuse(query, k, filterExpr, perList,
      semanticHits(if (ann) Some(IvfFamily) else None, query, perList,
        annNprobe, filterExpr, floor = None, adaptive = false))

  /** The SERVING front door for hybrid retrieval — [[recallServe]]'s
    * selectivity-aware routing applied to [[hybridRecall]]'s SEMANTIC
    * leg, replacing the manual `ann` knob with the same driver-side
    * sidecar bounds every other serving surface routes on (the lexical
    * leg always serves O(probe) from the postings artifact — it has no
    * arm to choose). Filtered and under `bruteRows` stats-surviving
    * rows → the exact pruned brute ranking; over the `pqBytes`
    * raw-vector footprint → the compressed IVF-PQ probe; between → the
    * plain IVF probe. Unfiltered never brutes (that IS the corpus scan
    * the artifacts exist to avoid).
    *
    * ROUTE PARITY: the probe arms floor the RAW cosine inside the
    * kernels exactly as the brute leg ([[MemoOps.recall]]) does, so at
    * full probe all three semantic legs produce the identical candidate
    * list and therefore the identical fused ranking (rank fusion
    * amplifies list differences — which is why the floor parity matters
    * MORE here than on [[recallServe]]); at serving nprobe the residual
    * divergence is ANN approximation itself, never the floor and never
    * the route. Reports its decision through the [[lastServeRoute]]
    * seam. */
  def hybridServe(query: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None, perList: Int = 50,
      nprobe: Int = 4, bruteRows: Long = 4096L,
      pqBytes: Long = MemoEngine.DefaultServePqBytes): DataFrame =
    hybridFuse(query, k, filterExpr, perList,
      semanticHits(serveRoute(filterExpr, bruteRows, pqBytes), query,
        perList, nprobe, filterExpr, floor = Some(MemoOps.ScoreFloor),
        adaptive = true))

  /** [[hybridRecall]]'s fusion tail, shared with [[hybridServe]], run on
    * the driver over the two collected lists (≤ `perList` rows each):
    * rank the semantic leg's hits, probe the postings artifact for the
    * lexical leg, fuse by reciprocal rank ([[graft.ops.Lexical.rrfFuseLocal]]
    * — [[graft.ops.Lexical.rrfFuse]]'s arithmetic bit for bit), look up
    * the k bodies, and return (id, rrf_score, [r_bm25,] r_vec, body) in
    * (rrf_score desc, id) order over local rows. `vec` is the semantic
    * leg's hits — the ONLY part the entry points choose. */
  private def hybridFuse(query: String, k: Int,
      filterExpr: Option[String], perList: Int,
      vec: Seq[(Long, Double)]): DataFrame = {
    import org.apache.spark.sql.types._
    val terms = VectorKernels.tokenize(query).toSeq.distinct
    val bm25 =
      if (terms.isEmpty) None
      else {
        val scores =
          if (currentVersion.isDefined) {
            ensureLexical()
            // filter → candidate mask over the artifact probe (see
            // scaladoc); unfiltered → plain probe. Both O(probe). The
            // mask derivation reads the segment-pruned frame: deriving
            // it is O(matching segments) too
            val allowed = filterExpr.map(f =>
              recordsForFilter(f)
                .filter(FilterAlgebra.compile(f, col("metadata")))
                .select(col("id")))
            searchBm25Retrying(terms, perList, allowed)
          } else // empty store: no artifact to probe, corpus is tiny
            graft.ops.Lexical.scoreBm25(
              records.filter(filterExpr.map(f =>
                  FilterAlgebra.compile(f, col("metadata")))
                  .getOrElse(lit(true)))
                .filter(!isBlank(col("body"))), "id", "body", terms,
              perList)
        Some("bm25" -> hitsOf(scores.select(col("doc_id").as("id"),
          col("score"))))
      }
    val lists = (bm25.toSeq :+ ("vec" -> vec)).map { case (name, hits) =>
      name -> hits.sorted(ScoreOrder).map(_._1).zipWithIndex
        .map { case (id, i) => (id, i + 1) }
    }
    val fused = graft.ops.Lexical.rrfFuseLocal(lists.map(_._2), k)
    withBodies(fused.map { case (id, score, ranks) => (id, (score, ranks)) },
      records, StructType(
        Seq(StructField("id", LongType, nullable = false),
          StructField("rrf_score", DoubleType, nullable = false)) ++
        lists.map { case (name, _) => StructField(s"r_$name", IntegerType) } :+
        StructField("body", StringType))) { case (id, (score, ranks), b) =>
      Row.fromSeq((id +: score +: ranks.map(_.map(Int.box).orNull)) :+ b)
    }
  }

  /** The BATCH twin of [[hybridRecall]] — both legs batch, one probe
    * each: queries tokenize IN THE PLAN (the same kernel the single
    * path's driver-side tokenize uses) into (query_id, term) pairs and
    * the postings artifact answers every query in ONE term-pruned probe
    * ([[graft.ops.Lexical.searchBm25Batch]] — df/N/avgdl global, the
    * filter mask semi-joined exactly as the single path's); the
    * semantic leg is the exact batch ranking ([[MemoOps.recallBatch]]
    * over the stats-pruned frame) or, with `ann = true`, the
    * maintained-IVF batch probe ([[annRecallBatch]], exact-fill ladder
    * included). Per-(query, list) dense ranks fuse by reciprocal rank
    * ([[graft.ops.Lexical.rrfFuseBatch]] — the identical floor-8
    * DECIMAL arithmetic, so batch and single fusion agree bit-exactly,
    * spec-pinned per query). A query whose text yields no tokens simply
    * contributes no lexical pairs and degrades to its semantic ranking
    * alone — the single path's contract, per query. Returns (query_id,
    * id, rrf_score, r_bm25, r_vec, body), top-k SET per query,
    * unordered. An empty/uncommitted store returns no rows. */
  def hybridRecallBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None, perList: Int = 50,
      ann: Boolean = false, annNprobe: Int = 4): DataFrame = {
    if (currentVersion.isEmpty) return emptyFrame(hybridBatchSchema)
    val vecBase =
      if (ann) probeRecallBatch(IvfFamily, queries, queryIdCol,
        queryTextCol, perList, annNprobe, filterExpr, floor = None,
        adaptive = false, withBody = false)
      else bruteVecBatch(queries, queryIdCol, queryTextCol, perList,
        filterExpr)
    hybridFuseBatch(queries, queryIdCol, queryTextCol, k, filterExpr,
      perList, vecBase)
  }

  /** [[hybridServe]]'s BATCH twin — ONE route decision for the whole
    * batch's semantic leg off the same sidecar bounds (the bounds
    * depend on the filter, not the query texts), then
    * [[hybridRecallBatch]]'s one-probe-per-leg machinery: one postings
    * probe answers every query's lexical leg, the routed semantic leg
    * is one brute pass / one IVF batch probe (exact-fill ladder
    * included) / one compressed batch probe, and fusion is the
    * identical floor-8 DECIMAL arithmetic per (query, id). Probe arms
    * floor the RAW cosine (see [[hybridServe]]'s route-parity note).
    * Returns (query_id, id, rrf_score, r_bm25, r_vec, body), top-k SET
    * per query, unordered. */
  def hybridServeBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int = MemoOps.DefaultK,
      filterExpr: Option[String] = None, perList: Int = 50,
      nprobe: Int = 4, bruteRows: Long = 4096L,
      pqBytes: Long = MemoEngine.DefaultServePqBytes): DataFrame = {
    if (currentVersion.isEmpty) return emptyFrame(hybridBatchSchema)
    val vecBase = serveLegBatch(queries, queryIdCol, queryTextCol, perList,
      filterExpr, nprobe, bruteRows, pqBytes, withBody = false)
    hybridFuseBatch(queries, queryIdCol, queryTextCol, k, filterExpr,
      perList, vecBase)
  }

  private def hybridBatchSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("query_id", LongType), StructField("id", LongType),
      StructField("rrf_score", DoubleType),
      StructField("r_bm25", IntegerType), StructField("r_vec", IntegerType),
      StructField("body", StringType)))
  }

  /** The EXACT batch semantic leg ([[MemoOps.recallBatch]] over the
    * stats-pruned frame) — [[hybridRecallBatch]]'s default arm and
    * [[hybridServeBatch]]'s brute route. */
  private def bruteVecBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, perList: Int,
      filterExpr: Option[String]): DataFrame = {
    val qe = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      graft.functions.GraftFunctions.embedText(col(queryTextCol))
        .as("qv"))
    val (baseR, idx) = filterExpr.fold((records, index))(prunedPair)
    MemoOps.recallBatch(baseR.join(idx, Seq("id")), qe, perList,
      filterExpr)
  }

  /** [[hybridRecallBatch]]'s fusion tail, shared with
    * [[hybridServeBatch]]: per-query ranks on the semantic leg, ONE
    * term-pruned postings probe for the lexical leg (token-free queries
    * degrade per query), floor-8 DECIMAL reciprocal-rank fusion, body
    * join. `vecBase` is the semantic leg's (query_id, id, score, …)
    * frame — the only part the entry points choose. */
  private def hybridFuseBatch(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int, filterExpr: Option[String],
      perList: Int, vecBase: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryTextCol).as("_qtext"))
    val wq = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("id"))
    val vec = vecBase.select(col("query_id"), col("id"), col("score"))
      .withColumn("rank", row_number().over(wq))
    ensureLexical()
    val qterms = q.select(col("query_id"),
      explode(graft.functions.GraftFunctions.tokensKernel(col("_qtext")))
        .as("term"))
    val allowed = filterExpr.map(f =>
      recordsForFilter(f)
        .filter(FilterAlgebra.compile(f, col("metadata")))
        .select(col("id")))
    // the lexical leg ALWAYS joins the fusion: an all-token-free batch
    // yields an empty vocabulary, which searchBm25Batch(emptyOk)
    // answers with the empty frame off its own sizing collect — no
    // separate emptiness-probe job (the r15 job-count floor, lowered),
    // and per-query token-free degradation stays automatic (a query
    // with no (query_id, term) pairs contributes nothing lexically →
    // null r_bm25, semantic ranking alone)
    val bm = searchBm25BatchRetrying(qterms, perList, allowed)
      .select(col("query_id"), col("doc_id").as("id"), col("score"))
      .withColumn("rank", row_number().over(wq))
    graft.ops.Lexical.rrfFuseBatch(Seq("bm25" -> bm, "vec" -> vec), k)
      .join(records.select(col("id"), col("body")), Seq("id"))
      .select(col("query_id"), col("id"), col("rrf_score"),
        col("r_bm25"), col("r_vec"), col("body"))
  }

  /** [[searchBm25Retrying]]'s batch twin — same journal-window backoff. */
  private def searchBm25BatchRetrying(queryTerms: DataFrame, k: Int,
      allowed: Option[DataFrame]): DataFrame = {
    val maxAttempts = 6
    var attempt = 1
    while (true) {
      try return graft.ops.Lexical.searchBm25Batch(spark, lexDir,
        queryTerms, k, allowed, emptyOk = true)
      catch { case e: graft.ops.Lexical.PendingAppendException =>
        if (attempt >= maxAttempts) throw e
        Thread.sleep(100L * attempt)
        attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- segment-level data skipping -----------------------------------

  /** The live manifest's records segments split by
    * [[graft.filter.SegmentStats.canMatch]] under a parsed filter:
    * (kept ordinals, all segment dirs). A segment is dropped ONLY when
    * its stats sidecar proves no row can satisfy the filter; a
    * missing/undecodable sidecar keeps the segment. A filter expression
    * the algebra cannot parse keeps everything — the downstream compile
    * throws the identical error the unpruned path would. Ordinals (not
    * paths) are the result so callers can prune POSITIONALLY PAIRED
    * sibling manifests (the index, see [[recall]]) with the same
    * decision — the RESOLVED VERSION rides along so a paired caller
    * reads its sibling manifest from the SAME version (re-reading
    * `currentVersion` could observe a concurrent rewrite commit and
    * pair ordinals across two different manifests). */
  private def prunedSegmentLists(filterExpr: String)
      : Option[(Seq[Int], Seq[String], Long)] = currentVersion.map { v =>
    val segs = segments(v, "records")
    val parsed =
      try Some(graft.filter.FilterAlgebra.parse(filterExpr))
      catch { case scala.util.control.NonFatal(_) => None }
    parsed match {
      case None => (segs.indices.toSeq, segs, v)
      case Some(fm) =>
        val kept = segs.indices.filter { i =>
          readMetaStats(segs(i))
            .forall(graft.filter.SegmentStats.canMatch(fm, _))
        }
        (kept.toSeq, segs, v)
    }
  }

  /** A promoted segment dir is IMMUTABLE (commits prepare in private
    * staging and publish by rename), so its decoded stats — including
    * "has no sidecar", which a promoted dir can never gain — memoize
    * per engine instance: a filtered read against a 100k-segment chain
    * costs 100k sidecar file reads ONCE, not per query. Growth is
    * bounded GENERATION-scoped (see [[readMetaStats]]): past the
    * threshold, entries for dirs no longer in the live manifest are
    * dropped — the cache tracks the live chain, never the churn
    * history. */
  private[graft] var statsCacheMax = 8192 // eviction threshold; spec seam
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Option[graft.filter.SegmentStats]]()
  private[graft] def statsCacheSize: Int = statsCache.size
  private[graft] val statsSidecarReads =
    new java.util.concurrent.atomic.AtomicLong(0) // spec observability
  /** The live version the last eviction sweep ran against. */
  private val statsSweptAt = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Every stats read in the engine (filtered pruning, the serve
    * router's bound, the maintenance cost route, WHERE-scoped view
    * scans) comes through here, so the cache's eviction lives here too.
    * Generation-scoped: on a MISS with the cache over the threshold,
    * drop only the entries no longer in the live manifest
    * (vacuumed/rewritten dirs, the one source of unbounded growth) —
    * once per live version, so a cold pass over an over-threshold chain
    * pays one sweep, not one per segment. A wholesale clear (or LRU,
    * which a sequential over-cap sweep thrashes to 100% miss) would
    * forfeit the "100k sidecars read ONCE" contract on long chains. */
  private def readMetaStats(segDir: String)
      : Option[graft.filter.SegmentStats] = {
    val cached = statsCache.get(segDir)
    if (cached != null) return cached
    if (statsCache.size > statsCacheMax) currentVersion.foreach { v =>
      if (statsSweptAt.getAndSet(v) != v) {
        val live = segments(v, "records").toSet
        statsCache.keySet.removeIf(k => !live.contains(k))
      }
    }
    statsSidecarReads.incrementAndGet()
    val p = Paths.get(segDir).resolve("_metastats")
    val st =
      if (!Files.exists(p)) None
      else graft.filter.SegmentStats.decode(Files.readString(p))
    statsCache.put(segDir, st)
    st
  }

  private def emptyFrame(schema: org.apache.spark.sql.types.StructType)
      : DataFrame = graft.ops.IvfIndex.localFrame(spark, Nil, schema)

  /** [[records]] with provably-unmatchable segments dropped for
    * `filterExpr` — same rows out of every filtered read (the
    * predicate still runs on the survivors), strictly fewer segment
    * files in. On an append-chained store a selective filter reads
    * O(matching segments), not O(chain). */
  def recordsForFilter(filterExpr: String): DataFrame =
    prunedSegmentLists(filterExpr) match {
      case None => records // undefined-store error path stays identical
      case Some((kept, _, _)) if kept.isEmpty =>
        emptyFrame(YamlIO.recordSchema)
      case Some((kept, segs, _)) => readSegments("records", kept.map(segs))
    }

  /** (records, index) both restricted to the filter's surviving
    * segments. The index prunes through the POSITIONAL records↔index
    * manifest pairing every commit path maintains (index segment i
    * holds exactly the embeddings of records segment i's non-blank
    * ids), so a selective filtered recall scores O(matching segments)
    * on BOTH sides; manifests that don't pair (a hand-built store) fall
    * back to the full index — the join still bounds it by id. */
  private def prunedPair(filterExpr: String): (DataFrame, DataFrame) =
    prunedSegmentLists(filterExpr) match {
      case None => (records, index)
      case Some((kept, segs, v)) =>
        // SAME captured version for both manifests — a rewrite commit
        // landing between two currentVersion reads could otherwise pair
        // records segs of v with index segs of v+1 (coincidentally equal
        // counts) and silently prune the wrong index segments
        val segsI = segments(v, "index")
        val paired = segsI.size == segs.size
        val recs =
          if (kept.isEmpty) emptyFrame(YamlIO.recordSchema)
          else readSegments("records", kept.map(segs))
        val idx =
          if (!paired) index
          else if (kept.isEmpty) emptyFrame(MemoEngine.IndexSchema)
          else readSegments("index", kept.map(segsI))
        (recs, idx)
    }

  /** Observability for specs and oracle builders: (kept, total)
    * segment counts under `filterExpr`'s pruning. */
  def segmentPrune(filterExpr: String): (Int, Int) =
    prunedSegmentLists(filterExpr)
      .map { case (kept, all, _) => (kept.size, all.size) }
      .getOrElse((0, 0))

  /** Test seam: how the last [[analyzeCount]] ask was served
    * ("view:<name>" | "scan"). Production never reads it. */
  private[graft] var lastCountSource: Option[String] = None

  /** Parse-level canonical form of a filter ask, for view-coverage
    * comparison ([[analyzeCount]] / [[statsPairs]]): the Python str()
    * rendering of the parsed map AFTER
    * [[FilterAlgebra.canonicalize]]'s semantics-preserving rewrites
    * (single-element `$and`/`$or` unwrap, commutative sibling sort) —
    * so `$and: [{lang: en}]` and `{lang: en}` cover each other while
    * any genuinely different predicate still scans. None = unparseable
    * (never covers). */
  private def canonFilter(f: String): Option[String] =
    scala.util.Try(FilterAlgebra.operandStr(
      FilterAlgebra.canonicalize(FilterAlgebra.parse(f)))).toOption

  /** Analyze projection/count/stats — see [[MemoOps]]; all three read
    * through the segment-pruned frame.
    *
    * The COUNT is additionally SERVED FROM A REGISTERED VIEW when one's
    * WHERE covers the filter at parse level (the [[statsPairs]] canon —
    * order-sensitive canonical-form compare): a view's `doc_count` is
    * maintained by the same compiled predicate every filtered read
    * takes, so `sum(doc_count)` over its (refreshed-first, never stale)
    * state IS the matched count, O(state) instead of the corpus scan.
    * The view's group key is immaterial — every matching row lands in
    * exactly one group (the null group included). ONLY views WITH a
    * where cover: a where-less view counts rows the filter algebra's
    * no-metadata gate excludes (the reference skips metadata-less
    * records before evaluating ANY filter, memo_cli.py:670-672 —
    * `where = Some("{}")` carries that gate through compile; no where
    * means no gate). Anything else scans. */
  def analyzeCount(filterExpr: String): Long = {
    val ask = canonFilter(filterExpr)
    val viaView =
      if (ask.isEmpty) None
      else views.iterator.map { name =>
        name -> ArtifactMeta
          .read(spark, viewDir(name).toString, ViewMetaFile)
          .flatMap(_.split('|') match {
            case Array(_, spec, _) => decodeViewSpec(spec)
            case _ => None
          })
      }.collectFirst {
        case (name, Some((gk, ms, aggs, where, cap)))
            if where.exists(w => canonFilter(w) == ask) =>
          lastCountSource = Some(s"view:$name")
          val r = viewState(name, gk, ms, aggs, where, cap)
            .agg(sum(col("doc_count"))).collect()(0)
          if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    viaView.getOrElse {
      lastCountSource = Some("scan")
      MemoOps.analyzeCount(recordsForFilter(filterExpr), filterExpr)
        .collect()(0).getLong(0)
    }
  }

  def analyzeProject(filterExpr: String, fields: Seq[String],
      limit: Int = 100, offset: Int = 0): DataFrame = {
    val recs = recordsForFilter(filterExpr)
    val fs = if (fields.nonEmpty) fields
             else MemoOps.defaultFields(recs, filterExpr)
    MemoOps.analyzeProject(recs, filterExpr, fs, limit, offset)
  }

  /** A8 top-4+other rollup off [[statsPairs]]: display-grouped cnt
    * sums with [[MemoOps.statsTopK]]'s exact formulas (two raw
    * encodings can share a rendering), so a registered covering view
    * serves this API O(state) exactly like the CLI stats block;
    * uncovered asks scan as before. Spark runs the one aggregation and
    * collects one row ([[statsTail]]); the "other" row and the final
    * (cnt desc, value) order are derived on the driver, and the answer
    * is a frame over local rows. */
  def analyzeStats(filterExpr: String, key: String): DataFrame = {
    import graft.functions.StatsTopAggregator.Order
    val counts = statsPairs(filterExpr, key)
      .select(graft.functions.GraftFunctions.metaDisplay(col("raw"))
        .as("value"), col("cnt"))
      .groupBy(col("value")).agg(sum(col("cnt")).as("cnt"))
    val tail = statsTail(counts).collect().head.getStruct(0)
    val top = tail.getSeq[Row](0).map(r =>
      (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    // "other" sums every row the value anti-join leaves outside the top:
    // a null value never matches that join, so a null-valued top row is
    // counted there as well; no such non-null count → no "other" row
    val matched = top.filter(_._1 != null).flatMap(_._2)
    val other =
      if (tail.getLong(2) > matched.size)
        Seq(("other", Some(tail.getLong(1) - matched.sum)))
      else Nil
    graft.ops.IvfIndex.localFrame(spark,
      (top ++ other).sorted(Order).map { case (v, c) =>
        Row(v, c.map(Long.box).orNull)
      }, counts.schema)
  }

  /** [[analyzeStats]]'s collected plan over the (value, cnt) counts: ONE
    * row holding the top 4 counts, the sum of all counts and how many
    * are non-null ([[graft.functions.StatsTopAggregator]]) — never one
    * row per distinct value. */
  private[graft] def statsTail(counts: DataFrame): DataFrame =
    counts.agg(graft.functions.StatsTopAggregator
      .column(col("value"), col("cnt")).as("top"))

  /** Exact PERCENTILES of `key`'s numeric values under `filterExpr` —
    * the maintained-quantiles ask on the reference's numeric rollup
    * surface (A9, memo_cli.py:599-617, whose min/max/avg this
    * completes): one row per requested percent, `(percent, value)`,
    * value NULL when nothing numeric matches. Values are the A9 class —
    * [[graft.functions.GraftFunctions.metaNum]], Python-number-typed
    * only; non-numeric renderings are skipped on both arms identically.
    *
    * Rides [[statsPairs]], so a registered covering view serves the ask
    * O(state) (the pairs are its maintained state) and anything else
    * takes the segment-pruned corpus scan — either way ONE exact
    * weighted percentile aggregate over (value, cnt) pairs: Spark's
    * `percentile(v, percents, cnt)`, SQL-standard percentile_cont
    * (position p×(N−1) over the value-sorted multiset, linear
    * interpolation between brackets), whose buffer is O(distinct
    * values) and map-side combined — never a global sort, never a
    * single-partition window, and the shuffle carries (value, count)
    * pairs, not rows. The VIEW-MEASURE twin (`median`/`pNN` in
    * [[viewState]]) serves percentile_DISC — each flavor matches its
    * DuckDB replay (percentile_cont here, percentile_disc there). */
  def analyzePercentiles(filterExpr: String, key: String,
      percents: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 0 && p <= 1),
      s"percents must be non-empty and within [0,1], got $percents")
    val nums = statsPairs(filterExpr, key)
      .select(graft.functions.GraftFunctions.metaNum(col("raw")).as("v"),
        col("cnt"))
      .filter(col("v").isNotNull)
    val nullVals = array(percents.map(_ =>
      lit(null).cast("double")): _*)
    nums
      .agg(percentile(col("v"), typedLit(percents), col("cnt")).as("vals"))
      .select(explode(zip_with(typedLit(percents),
        coalesce(col("vals"), nullVals),
        (p, v) => struct(p.as("percent"), v.as("value")))).as("r"))
      .select(col("r.percent").as("percent"), col("r.value").as("value"))
  }

  /** Test seam: how the last [[statsPairs]] ask was served
    * ("view:<name>" | "scan"). Production never reads it. */
  private[graft] var lastStatsSource: Option[String] = None

  /** The (raw typed value, row count) pairs of a stats key under a
    * filter — the SUFFICIENT STATISTIC for the whole `analyze --stats`
    * block: cardinality (A7), the top-4+other rollup (A8), and the
    * numeric/date ranges (A9/A10) are all functions of it (weighted by
    * `cnt`; min/max/distinct over values are count-blind).
    *
    * SERVED FROM A REGISTERED VIEW when one covers the ask: a view
    * whose `groupKey` is exactly `metadata['<key>']` and whose `where`
    * is exactly this filter expression has the pairs AS ITS STATE
    * (group_key = the raw value, doc_count = the row count) — views
    * maintain them O(delta), so the stats block costs a state read
    * instead of the corpus scan. Coverage is syntactic (expression and
    * filter strings match verbatim) and the view refreshes to the live
    * version through the standard [[viewState]] walk first, so a
    * view-served block is never stale. Anything else — no covering
    * view, dotted/special keys, a different filter — falls back to the
    * segment-pruned corpus scan (the reference path). Missing values
    * (NULL) and explicit YAML nulls ("z") are excluded on both arms
    * (memo_cli.py:582-586).
    *
    * Filter coverage compares PARSE-LEVEL canonical forms
    * ([[canonFilter]] — the Python str() rendering after
    * [[FilterAlgebra.canonicalize]]'s semantics-preserving rewrites),
    * not raw strings: `lang: en`, `{lang: en}`, `$and: [{lang: en}]`,
    * and key-order permutations all cover each other, while any
    * genuinely different predicate — including operand-DICT insertion
    * order, which is semantic in the algebra's str() equality — stays
    * uncovered and scans. */
  def statsPairs(filterExpr: String, key: String): DataFrame = {
    val canonical = s"metadata['$key']"
    val ask = canonFilter(filterExpr)
    // SPECIAL KEYS never consult views: [[MemoOps.rawField]] resolves
    // 'id' to the record id (not element_at(metadata,'id')), 'metadata'
    // to the whole-map rendering, and 'metadata.x' strips the prefix to
    // element_at(metadata,'x') — so the canonical form above would match
    // a view over a METADATA FIELD that merely shares the name (a field
    // literally called 'id') and silently serve the wrong pairs. Those
    // asks always take the scan arm, as the fallback contract promises.
    val viewServable = key != "id" && key != "metadata" &&
      !key.startsWith("metadata.")
    val covering = if (!viewServable) None else views.iterator.map { name =>
      name -> ArtifactMeta
        .read(spark, viewDir(name).toString, ViewMetaFile)
        .flatMap(_.split('|') match {
          case Array(_, spec, _) => decodeViewSpec(spec)
          case _ => None
        })
    }.collectFirst {
      case (name, Some((gk, ms, aggs, where, cap)))
          if gk == canonical && ask.isDefined &&
            where.exists(w => canonFilter(w) == ask) =>
        (name, ms, aggs, where, cap)
    }
    covering match {
      case Some((name, ms, aggs, where, cap)) =>
        lastStatsSource = Some(s"view:$name")
        viewState(name, canonical, ms, aggs, where, cap)
          .select(col("group_key").as("raw"), col("doc_count").as("cnt"))
          .filter(col("raw").isNotNull && col("raw") =!= "z")
      case None =>
        lastStatsSource = Some("scan")
        recordsForFilter(filterExpr)
          .filter(FilterAlgebra.compile(filterExpr, col("metadata")))
          .select(MemoOps.rawField(key).as("raw"))
          .filter(col("raw").isNotNull && col("raw") =!= "z")
          .groupBy("raw").agg(count(lit(1)).as("cnt"))
    }
  }

  /** A7 cardinality (distinct non-missing format_cell renderings of
    * `key` under `filterExpr`) over [[statsPairs]] — view-served when a
    * registered view covers the ask, the corpus scan otherwise. */
  def cardinality(filterExpr: String, key: String): Long =
    statsPairs(filterExpr, key)
      .select(graft.functions.GraftFunctions.metaDisplay(col("raw")))
      .distinct().count()

  // ---- incremental materialized views -------------------------------------
  //
  // A VIEW is a persisted group-by aggregate over the records table —
  // `group_key` (any row-level SQL expression, e.g. `metadata['lang']`),
  // `doc_count`, and named long measures aggregated by SUM (default),
  // MIN, MAX, or AVG (served as DOUBLE sum/doc_count off SUM-maintained
  // state) — maintained O(delta) from the store's own changefeed
  // instead of recomputed O(corpus) per refresh. Counts and sums are the
  // RETRACTABLE aggregate class: an update subtracts the old row's
  // contribution and adds the new one, so the view needs only the changed
  // rows and their prev-side state (which [[patchMerge]]'s materialized
  // feed carries for free). MIN/MAX have no additive inverse; each group
  // stores a RESERVE instead — its top-k value multiset (champion-first,
  // a bounded typed Aggregator, a few longs per group) kept a PREFIX of
  // the group's true sorted values by the merge — so adds AND champion
  // retractions are both O(delta) (the runner-up is already stored), and
  // ONLY a group whose entire reserve is exhausted by retractions pays a
  // recompute, scoped to exactly the broken groups (one corpus scan
  // semi-joined down to their keys, which also refills their reserves),
  // never the whole view. Aggregates that can't be maintained this way
  // (count-distinct, percentiles) are rejected at the API boundary.
  //
  // Maintenance walks the committed version steps between the view's
  // recorded watermark and the live version:
  //  - an APPEND step (manifest extends) contributes +rows from ONLY its
  //    delta segments — no join, no old state read;
  //  - a PATCH step reads ONLY its materialized `changefeed` dir: adds and
  //    new-side updates contribute +, removed rows and prev-side updates
  //    contribute − (the `_prev` marker gates on the extended schema);
  //  - a REWRITE step (reindex/restore/import/fold — or any step whose
  //    version dirs were vacuumed) aborts the walk and the view recomputes
  //    from the captured live version's segments. Honest O(corpus), the
  //    same arm every maintained artifact family has.
  // All step contributions land in ONE Spark job (a union aggregated per
  // group), then merge into the stored state with a NULL-SAFE group join
  // (the null group — rows where the key expression is null — must merge,
  // not multiply). Groups whose doc_count reaches 0 drop out; a NEGATIVE
  // doc_count can only mean a maintenance bug and fails loudly before the
  // new state is published. Measure values that are null or fail the cast
  // to BIGINT count as 0 (try_cast) on both the incremental and recompute
  // paths, so the two can never diverge on missing or malformed metadata.

  private def viewDir(name: String): Path = base.resolve(s"_view_$name")
  private val ViewMetaFile = "_view_meta"
  private val ViewShardManifest = "_shards"

  /** One live view-state shard: the parquet dir at `path` (RELATIVE to
    * the view dir, so a shard carried by reference keeps reading from
    * the older state dir that wrote it) holding every group whose hash
    * CELL falls in [lo, hi). Shard group sets are disjoint; intervals
    * may overlap across entries (an older wide shard next to newer
    * fine-grained ones) — a key's live row is in exactly ONE shard, and
    * a refresh treats EVERY entry intersecting the delta's cells as
    * touched. `rows` is the shard's group count AS WRITTEN (−1 for a
    * manifest recorded before counts existed): a carried shard is by
    * definition untouched, so the recorded count stays exact across any
    * number of carries — which is what lets [[viewFragmentation]] price
    * the state from the manifest alone, no job. */
  private[graft] case class ViewShard(lo: Int, hi: Int, path: String,
      rows: Long = -1L)

  /** group_key → hash cell in [0, [[MemoEngine.ViewShardCells]]): the
    * top 16 bits of the key's xxhash64 (null keys pin to cell 0). The
    * same expression addresses shards on the write and lookup sides. */
  private def viewCellCol(key: Column): Column =
    when(key.isNull, lit(0)).otherwise(
      shiftrightunsigned(xxhash64(key),
        64 - MemoEngine.ViewShardCellBits).cast("int"))

  /** The shard manifest of a state dir — None for a LEGACY (pre-shard,
    * single parquet dir) state, which callers treat as one shard
    * covering the whole cell space. The manifest file starts with '_'
    * so Spark's hidden-file filter never reads it as parquet. */
  private[graft] def readShardManifest(stateDir: Path)
      : Option[Seq[ViewShard]] = {
    val f = stateDir.resolve(ViewShardManifest)
    if (!Files.exists(f)) None
    else Some(Files.readAllLines(f).asScala.toSeq.drop(1)
      .filter(_.nonEmpty).map { line =>
        val parts = line.split('|')
        ViewShard(parts(0).toInt, parts(1).toInt, parts(2),
          if (parts.length >= 4) parts(3).toLong else -1L)
      })
  }

  private def writeShardManifest(stateDir: Path,
      shards: Seq[ViewShard]): Unit = {
    val body = (s"v1 cells=${MemoEngine.ViewShardCells}" +:
      shards.sortBy(s => (s.lo, s.hi, s.path))
        .map(s => s"${s.lo}|${s.hi}|${s.path}|${s.rows}")).mkString("\n")
    Files.writeString(stateDir.resolve(ViewShardManifest), body)
    ()
  }

  /** Parquet paths of a state's live shards, resolved against the view
    * dir (carried shards read in place from older state dirs); a legacy
    * state reads as the whole dir. */
  private def shardPaths(dir: Path, stateDir: String): Seq[String] =
    readShardManifest(dir.resolve(stateDir)) match {
      case Some(shards) => shards.map(s => dir.resolve(s.path).toString)
      case None => Seq(dir.resolve(stateDir).toString)
    }

  /** A grid-sharded artifact: generation dirs `<prefix>…` under `dir`,
    * each holding `_shard=<q>` parquet dirs of rows whose `key` hash
    * cell ([[viewCellCol]]) falls in [q·grid, (q+1)·grid), plus a shard
    * manifest whose entries may point into OLDER generations (carry by
    * reference). View states (`state-`, keyed on group_key) and the
    * dup-group labeling (`labels-`, keyed on component) both publish
    * through it. `countRows` records each written shard's row count in
    * the manifest — one job over the cached content, paid only by views,
    * whose [[viewFragmentation]] prices the state from those counts. */
  private final class ShardedArtifact(dir: Path, prefix: String,
      key: String, countRows: Boolean) {

    /** Split generation `gen`'s shards — a legacy (pre-shard) generation
      * reads as one shard over the whole cell space — by the hash cells
      * of `keys`' key column (one bounded job: ≤ ViewShardCells ints on
      * the driver, whatever the delta size) into (touched, carried,
      * pitch cap). The cap is the narrowest touched width; a GAP-CELL
      * delta (every key hashed into cells no prior shard covers) takes
      * the prior generation's own narrowest pitch instead of the whole
      * space — a space-wide entry would intersect every future delta and
      * erode the carry until its next rewrite re-split it (ownership is
      * row-level either way; intervals only drive touch detection). */
    def split(gen: String, keys: DataFrame)
        : (Seq[ViewShard], Seq[ViewShard], Int) = {
      val cells = keys.select(viewCellCol(col(key)).as("c"))
        .distinct().collect().map(_.getInt(0)).sorted
      def touched(s: ViewShard): Boolean = {
        var a = java.util.Arrays.binarySearch(cells, s.lo)
        if (a < 0) a = -a - 1
        a < cells.length && cells(a) < s.hi
      }
      val prior = readShardManifest(dir.resolve(gen))
        .getOrElse(Seq(ViewShard(0, MemoEngine.ViewShardCells, gen)))
      val (hit, carried) = prior.partition(touched)
      def narrowest(ss: Seq[ViewShard]) = ss.map(s => s.hi - s.lo).minOption
      (hit, carried, narrowest(hit).orElse(narrowest(prior))
        .getOrElse(MemoEngine.ViewShardCells))
    }

    /** Publish `content` as a fresh generation `<prefix><tag><uuid>`:
      * rows land at a grid pitch sized so each shard holds ≤
      * [[viewShardRows]] rows (hash-uniform over keys), capped at
      * `widthCap` so a narrow rewrite never publishes a wider interval
      * than the region it rewrote — a shard that grew past the target
      * splits into finer grid dirs the next time its region is
      * rewritten (split-on-rewrite; a full publish re-grids the whole
      * space uniformly). A single hash-skewed hot shard can exceed the
      * target without splitting under this estimate — its rewrites stay
      * O(its rows), a bounded degradation uniform hashing makes
      * unlikely. The manifest lists the `carried` shards by reference
      * next to the written ones; then `swing(gen, rows written)` makes
      * the generation live (a throw there leaves the old one live), and
      * [[sweep]] keeps the new and the `prev` generation's references.
      * Returns the new generation's name and its written shard count. */
    def publish(content: DataFrame, tag: String, prev: Option[String],
        carried: Seq[ViewShard] = Nil,
        widthCap: Int = MemoEngine.ViewShardCells)(
        swing: (String, Long) => Unit): (String, Int) = {
      Files.createDirectories(dir)
      val gen = s"$prefix$tag${java.util.UUID.randomUUID.toString.take(8)}"
      val genPath = dir.resolve(gen)
      val cached = content.persist()
      try {
        val written = cached.count()
        val grid = {
          var parts = 1
          while (parts < MemoEngine.ViewShardCells &&
              written / parts > viewShardRows) parts <<= 1
          math.min(MemoEngine.ViewShardCells / parts, widthCap)
        }
        // Column./ is double division; magnitudes ≤ 2^16 are exact in
        // double, so the int cast IS the integer quotient
        val sharded = cached.withColumn("_shard",
          (viewCellCol(col(key)) / lit(grid)).cast("int"))
        sharded.write.mode("overwrite").partitionBy("_shard")
          .parquet(genPath.toString)
        val rowsByShard: Map[Int, Long] =
          if (!countRows || written == 0) Map.empty
          else sharded.groupBy(col("_shard")).count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val shards = listDir(genPath)
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("_shard="))
          .map { p =>
            val q = p.getFileName.toString.stripPrefix("_shard=").toInt
            ViewShard(q * grid, (q + 1) * grid, s"$gen/${p.getFileName}",
              rowsByShard.getOrElse(q, -1L))
          }
        writeShardManifest(genPath, carried ++ shards)
        swing(gen, written)
        sweep(gen +: prev.toSeq)
        (gen, shards.size)
      } finally cached.unpersist()
    }

    /** TTL sweep of retired generations: a generation dir stays while
      * ANY manifest in `keep` references a shard in it (carried shards
      * keep reading older dirs in place, and a lock-free reader of the
      * previous generation needs that manifest's references too);
      * anything else falls once older than the staging TTL. "Now" is the
      * FILESYSTEM's clock (vacuum's probe idiom) — on a shared filesystem
      * whose clock lags the driver's, a wall-clock cutoff could sweep a
      * dir younger than the TTL out from under a lock-free reader.
      *
      * SHARD-level sweep inside kept dirs: a generation stays alive as
      * long as ONE of its shards is carried, so its superseded sibling
      * shards (rewritten or split away generations ago) would otherwise
      * accumulate as dead files forever. Any `_shard=*` dir referenced by
      * NO kept manifest falls under the same TTL discipline — a lock-free
      * reader of a kept generation never reads an unreferenced shard, and
      * older-generation readers get the dir-level sweep's window.
      *
      * `ptr` is the live pointer file when the sweep runs apart from a
      * publish ([[vacuum]]) and so keeps only the live generation: a
      * lock-free reader may hold the generation before it until the
      * pointer has aged past the same TTL, so a fresher pointer skips the
      * sweep (the publish that swung it has just swept). */
    def sweep(keep: Seq[String], ptr: Option[Path] = None): Unit = {
      val probe = dir.resolve(".sweep_probe")
      Files.writeString(probe, "")
      val fsNow = Files.getLastModifiedTime(probe).toMillis
      Files.deleteIfExists(probe)
      val cutoff = fsNow - MemoEngine.DefaultStagingTtlMs
      def aged(p: Path) = Files.getLastModifiedTime(p).toMillis < cutoff
      if (ptr.exists(p => !aged(p))) return
      val refs = keep.map(st => st -> readShardManifest(dir.resolve(st))
        .toSeq.flatten.map(_.path))
      val keepDirs = refs.flatMap { case (st, ps) =>
        st +: ps.map(_.split('/').head) }.toSet
      val refShards = refs.flatMap(_._2).map(dir.resolve(_).toString).toSet
      def gens = listDir(dir).filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix))
      gens.filterNot(p => keepDirs.contains(p.getFileName.toString))
        .filter(aged).foreach(deleteTree)
      gens.foreach { g =>
        listDir(g).filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith("_shard="))
          .filterNot(p => refShards.contains(p.toString))
          .filter(aged).foreach(deleteTree)
      }
    }
  }

  private def viewShards(name: String) =
    new ShardedArtifact(viewDir(name), "state-", "group_key",
      countRows = true)

  /** Test seam: the last refresh's publish shape — (shards written,
    * shards carried by reference). Production never reads it. */
  private[graft] var lastViewPublish: Option[(Int, Int)] = None

  /** Test seam: (mode, files the refresh actually scanned) — "fresh" |
    * "incremental" | "incremental_rescan" | "rebuild". Lets specs pin
    * that an append refresh read ONLY delta segments, a patch refresh
    * ONLY the materialized feed, and that the rescan arm fires only on
    * reserve exhaustion. Production reads it never. */
  private[graft] var lastViewRefresh: Option[(String, Seq[String])] = None

  /** Test seam, [[beforeLexicalBuildHook]]'s twin for the view family. */
  private[graft] var beforeViewBuildHook: () => Unit = () => ()

  private def viewSchema(measures: Seq[(String, String)])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      StructField("group_key", StringType) +:
      StructField("doc_count", LongType) +:
      measures.map { case (n, _) => StructField(n, LongType) })
  }

  /** The PERSISTED state schema: [[viewSchema]] plus, per MIN/MAX
    * measure, its `_res_<n>` reserve (the group's top-k value multiset,
    * champion-first), and per COUNT DISTINCT measure its `_dict_<n>`
    * value→multiplicity dictionary (NULL = overflowed past
    * `viewDistinctCap`) — internal maintenance columns a served frame
    * never sees. */
  private def viewStateSchema(measures: Seq[(String, String)],
      aggOf: Map[String, String]): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(viewSchema(measures).fields ++
      measures.collect {
        case (n, _) if aggOf.get(n).exists(a => a == "min" || a == "max") =>
          StructField(s"_res_$n", ArrayType(LongType))
        case (n, _) if aggOf.get(n).exists(MemoEngine.dictBacked) =>
          StructField(s"_dict_$n", MapType(StringType, LongType))
      })
  }

  /** Per-row contribution frame: every row of `df` (id, body, metadata)
    * becomes (group_key, sign, raw measure values). `sign` = −1 retracts.
    * Values are UNSIGNED here — the caller's aggregation decides how a
    * retraction applies (negate for SUM; extreme-vs-stored test for
    * MIN/MAX, which have no additive inverse; one-instance dictionary
    * decrement for COUNT DISTINCT). Numeric measures 0-coerce nulls and
    * failed casts; COUNT DISTINCT measures keep the raw STRING value and
    * keep NULL AS NULL — SQL's COUNT(DISTINCT) ignores nulls, and both
    * the incremental and recompute arms ignore them identically. */
  private def viewContribOf(df: DataFrame, sign: Int, groupKey: String,
      measures: Seq[(String, String)],
      aggOf: Map[String, String],
      where: Option[String] = None): DataFrame = {
    // WHERE-scoped views: the predicate evaluates against THIS frame's
    // metadata — the new row state on a plus frame, the previous state
    // on a minus frame (the caller renames prev_metadata in) — which is
    // exactly what makes a predicate-boundary crossing retract-then-add
    val scoped = where.fold(df)(w =>
      df.filter(graft.filter.FilterAlgebra.compile(w, col("metadata"))))
    scoped.select(
      expr(groupKey).cast("string").as("group_key") +:
      lit(sign.toLong).as("sign") +:
      measures.map { case (n, e) =>
        if (aggOf.get(n).contains("count_distinct"))
          expr(s"($e)").cast("string").as(n)
        else if (aggOf.get(n).exists(a =>
            MemoEngine.percentileOf(a).isDefined))
          // PERCENTILE measures 0-coerce like every numeric aggregator
          // (both arms identically), then ride the dictionary machinery
          // as the value's canonical string — the histogram's key
          coalesce(expr(s"try_cast(($e) AS BIGINT)"), lit(0L))
            .cast("string").as(n)
        else if (aggOf.get(n).contains("count"))
          // COUNT(expr): 1 per NON-NULL evaluation (SQL semantics) —
          // presence is additive, so the measure rides the SUM
          // machinery whole (retract by negation, nothing to exhaust)
          when(expr(s"($e)").isNull, lit(0L)).otherwise(lit(1L)).as(n)
        else coalesce(expr(s"try_cast(($e) AS BIGINT)"), lit(0L)).as(n)
      }: _*)
  }

  /** `segs` minus the segments whose stats sidecars PROVE no row can
    * match `where` — the skipping family composed onto the view family's
    * corpus-shaped scans. No filter (or an unparsable one, which the
    * compile will reject loudly downstream) keeps everything. */
  private def whereSurviving(segs: Seq[String],
      where: Option[String]): Seq[String] =
    where.flatMap(w =>
        scala.util.Try(graft.filter.FilterAlgebra.parse(w)).toOption)
      .fold(segs) { fm =>
        segs.filter(s => readMetaStats(s)
          .forall(graft.filter.SegmentStats.canMatch(fm, _)))
      }

  /** The incremental maintenance walk: one contribution frame per version
    * step in (v0, v1], or None when any step can't be proven O(delta)
    * (rewrite commit without a feed, pre-`_prev` feed, vacuumed dirs) —
    * the caller recomputes. Driver cost is O(steps) manifest reads; the
    * returned frame is lazy (one job when aggregated). */
  private def viewContribs(v0: Long, v1: Long, groupKey: String,
      measures: Seq[(String, String)],
      aggOf: Map[String, String],
      where: Option[String]): Option[DataFrame] = {
    def stepContrib(a: Long): Option[DataFrame] = {
      val b = a + 1
      if (!Files.isDirectory(versionDir(a)) ||
          !Files.isDirectory(versionDir(b))) return None
      val segsA = segments(a, "records")
      val segsB = segments(b, "records")
      if (segsB.startsWith(segsA)) {
        val delta = segsB.drop(segsA.size)
        if (!delta.forall(s => Files.exists(Paths.get(s)))) None
        else {
          // WHERE-scoped: an append step reads delta ∩ stats-surviving —
          // a delta segment whose sidecar proves no match contributes
          // nothing and is never opened
          val kept = whereSurviving(delta, where)
          if (kept.isEmpty)
            Some(viewContribOf(emptyFrame(YamlIO.recordSchema),
              1, groupKey, measures, aggOf, where))
          else Some(viewContribOf(
            readSegments("records", kept),
            1, groupKey, measures, aggOf, where))
        }
      } else {
        val feedDir = versionDir(b).resolve("changefeed")
        if (!Files.isDirectory(feedDir) ||
            !Files.exists(feedDir.resolve("_prev"))) None
        else {
          val feed = spark.read.schema(MemoEngine.FeedWithPrevSchema)
            .parquet(feedDir.toString)
          val plus = viewContribOf(
            feed.filter(col("change") =!= "removed")
              .select(col("id"), col("body"), col("metadata")),
            1, groupKey, measures, aggOf, where)
          val minus = viewContribOf(
            feed.filter(col("change") =!= "added")
              .select(col("id"), col("prev_body").as("body"),
                col("prev_metadata").as("metadata")),
            -1, groupKey, measures, aggOf, where)
          Some(plus.unionByName(minus))
        }
      }
    }
    val frames = (v0 until v1).map(stepContrib)
    if (frames.exists(_.isEmpty)) None
    else Some(frames.flatten.reduce(_.unionByName(_)))
  }

  /** The view's persisted state brought to the live store version and
    * served as a DataFrame (`group_key` STRING, `doc_count` LONG, one
    * LONG column per measure). `groupKey` and each measure are row-level
    * SQL expressions over `id`/`body`/`metadata`; measures aggregate by
    * SUM unless `aggOf` names "min", "max", "avg", "count", or
    * "count_distinct"
    * for them — an AVG
    * measure is served as DOUBLE sum/doc_count, maintained through the
    * SUM machinery, and a COUNT measure is SQL COUNT(expr) — 1 per
    * non-null evaluation — maintained the same way (presence is
    * additive; retract by negation) (a null or
    * non-BIGINT-castable value evaluates as 0 under every NUMERIC
    * aggregator, so
    * the incremental and recompute arms can never diverge on malformed
    * metadata; aggregators outside [[MemoEngine.ViewAggs]] are rejected
    * loudly). A COUNT DISTINCT measure is the group's exact distinct
    * count of the expression's STRING value (nulls ignored — SQL
    * semantics, both arms identically), maintained through a bounded
    * per-group value→multiplicity dictionary (`viewDistinctCap`,
    * default 64): adds insert, retractions remove one instance, and the
    * scalar is the key count — O(delta), the reserve idiom without
    * order structure. A group whose distinct cardinality exceeds the
    * cap drops its dictionary (the scalar stays exact through that
    * merge); the group's NEXT value-touching refresh recomputes it via
    * the group-scoped rescan arm — the same cost class as MIN/MAX
    * reserve exhaustion, and the documented trade for exact retractable
    * distinct counts at bounded state.
    *
    * `where` scopes the view to the rows matching a METADATA FILTER
    * (the reference's filter algebra, the same language every filtered
    * read takes — not row SQL, deliberately: the algebra is what the
    * segment stats can prune on). Maintenance applies the compiled
    * predicate to each contribution frame — an update that moves a row
    * ACROSS the predicate boundary retracts on the side it left and
    * adds on the side it entered, because the plus frame evaluates the
    * NEW metadata and the minus frame the PREVIOUS — and every
    * corpus-shaped scan (rebuild, group rescan, append steps) reads
    * only delta ∩ stats-surviving segments, so a selective filtered
    * view costs O(matching segments) to build and O(matching changed
    * rows) to maintain. The predicate participates in spec identity:
    * same name + different `where` is a detected spec change. A
    * malformed filter throws at the call boundary (the parse runs
    * before any state is touched). The state is an engine-maintained
    * artifact under `_view_<name>` with the version-watermark idiom:
    * fresh → serve lock-free (two metadata reads, no job); behind →
    * catch up O(changed rows) through [[viewContribs]] under the build
    * lock, or recompute from the CAPTURED version when a step can't be
    * proven incremental. Changing `groupKey`/`measures` for an existing
    * name is detected (the spec is recorded verbatim in the meta) and
    * rebuilds. A 100-TB corpus pays the full group-by once; every
    * subsequent refresh costs the rows that actually changed. */
  def viewState(name: String, groupKey: String,
      measures: Seq[(String, String)] = Seq.empty,
      aggOf: Map[String, String] = Map.empty,
      where: Option[String] = None,
      distinctCap: Option[Int] = None): DataFrame =
    viewStateArm(name, groupKey, measures, aggOf, where, distinctCap)._1

  /** [[viewState]] plus the arm this call took — "fresh" | "incremental"
    * | "incremental_rescan" | "rebuild" ("empty" on an empty store).
    * Returned, not read back from [[lastViewRefresh]]: a concurrent view
    * serve or refresh on the same engine writes that var too. */
  private def viewStateArm(name: String, groupKey: String,
      measures: Seq[(String, String)], aggOf: Map[String, String],
      where: Option[String],
      distinctCap: Option[Int]): (DataFrame, String) = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_\\-]*"),
      s"view name must be [A-Za-z0-9_-]+, got '$name'")
    // PER-VIEW distinct cap: a dashboard mixing a coarse distinct view
    // (~30 langs) with a fine one (~10k shards) should not size the
    // ENGINE cap for the worst case and pay dictionary state on every
    // view — the cap is a property of the view's cardinality, so it
    // overrides per view and rides the existing `d<cap>` spec slot
    // (already per-spec in identity; a cap change rebuilds, as any spec
    // change does). The engine option stays the default.
    distinctCap.foreach(c => require(c >= 1,
      s"distinctCap must be >= 1, got $c"))
    val dCap = distinctCap.getOrElse(viewDistinctCap)
    // malformed filters fail HERE, before any lock or state dir exists —
    // the same loud-boundary rule the aggregator check enforces
    where.foreach(graft.filter.FilterAlgebra.parse)
    measures.foreach { case (n, _) =>
      // "sign" is the contribution frame's retraction column — a measure
      // with that name would alias it inside the maintenance aggregation
      require(n.matches("[a-z][a-z0-9_]*") && n != "group_key" &&
        n != "doc_count" && n != "sign",
        s"measure name '$n' is reserved or not snake_case")
    }
    val measureNames = measures.map(_._1).toSet
    aggOf.foreach { case (n, a) =>
      require(measureNames.contains(n),
        s"aggOf names unknown measure '$n' (measures: " +
        s"${measureNames.mkString(",")})")
      require(MemoEngine.ViewAggs.contains(a) ||
        MemoEngine.percentileOf(a).isDefined,
        s"measure '$n' aggregator '$a' unsupported \u2014 one of " +
        s"${MemoEngine.ViewAggs.mkString("/")}/median/pNN; aggregates " +
        "outside these are not retractable from the changefeed and are " +
        "rejected loudly rather than served stale")
    }
    val dirS = viewDir(name).toString
    // spec identity: every component base64url'd SEPARATELY and joined on
    // ':' (outside the base64url alphabet, and distinct from the meta
    // file's '|' field separator) — concatenation ambiguity (a measure
    // expr containing the join character) can never make two distinct
    // specs collide, so a spec change is always detected and rebuilt
    def b64(s: String) = java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes("UTF-8"))
    // the reserve depth participates in spec identity: a k change means
    // the stored reserves no longer bound the rescan contract — rebuild.
    // The distinct cap participates the same way, but ONLY when a
    // count_distinct measure exists (so pre-existing views keep their
    // recorded specs verbatim — no spurious rebuild on upgrade). The
    // d-part is unambiguous: with it the part count is 3+3m (≡0 mod 3),
    // without it 2+3m (≡2 mod 3) — no base64url groupKey can shift one
    // form into the other.
    val hasDistinct = aggOf.values.exists(MemoEngine.dictBacked)
    // a WHERE predicate rides INSIDE part 0 (`k8w<b64url>`): the b64url
    // alphabet has no ':', so part counts — and therefore the d-part
    // disambiguation — are untouched, and where-less specs stay verbatim
    val spec = ((s"k$viewReserveK${where.fold("")(w => s"w${b64(w)}")}" +:
      (if (hasDistinct) Seq(s"d$dCap") else Nil)) ++
      (b64(groupKey) +:
      measures.map { case (n, e) =>
        s"${b64(n)}:${aggOf.getOrElse(n, "sum")}:${b64(e)}" })).mkString(":")
    def readMeta: Option[(Long, String, String)] =
      ArtifactMeta.read(spark, dirS, ViewMetaFile).flatMap {
        _.split('|') match {
          case Array(v, h, st) => v.toLongOption.map((_, h, st))
          case _ => None
        }
      }
    // AVG is DERIVED, not maintained: the state stores the measure's SUM
    // (the exact retractable machinery SUM measures use — adds add,
    // retractions negate, nothing new to exhaust) and the division by
    // doc_count happens here at serve time, as DOUBLE. Denominator is the
    // group's row count: a null/non-castable value averages as 0, the
    // same 0-coercion every other aggregator applies, so the incremental
    // and recompute arms still can't diverge on malformed metadata.
    // Groups only exist with doc_count > 0, so the division is total.
    def asServed(df: DataFrame): DataFrame =
      if (!aggOf.values.exists(_ == "avg")) df
      else df.select(
        col("group_key") +: col("doc_count") +:
        measures.map { case (n, _) =>
          if (aggOf.get(n).contains("avg"))
            (col(n).cast("double") / col("doc_count")).as(n)
          else col(n)
        }: _*)
    def serve(stateDir: String): DataFrame = {
      val paths = shardPaths(viewDir(name), stateDir)
      if (paths.isEmpty) asServed(emptyFrame(viewSchema(measures)))
      else asServed(spark.read.schema(viewSchema(measures))
        .parquet(paths: _*))
    }
    currentVersion match {
      case None => (asServed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        viewSchema(measures))), "empty")
      case Some(_) =>
        readMeta match {
          case Some((v, h, st)) if currentVersion.contains(v) && h == spec =>
            lastViewRefresh = Some(("fresh", Nil)); (serve(st), "fresh")
          case _ => ArtifactMeta.withBuildLock(spark, dirS) {
            val live = currentVersion.get // re-read under the lock
            readMeta match {
              case Some((v, h, st)) if v == live && h == spec =>
                lastViewRefresh = Some(("fresh", Nil)); (serve(st), "fresh")
              case recorded =>
                beforeViewBuildHook()
                refreshView(name, groupKey, measures, aggOf, where, dCap,
                  spec, live, recorded, serve)
            }
          }
        }
    }
  }

  /** The locked refresh arm of [[viewState]]: merge-or-recompute, write
    * the new state under a fresh unique dir, loud negative-count check,
    * THEN advance the meta (a crash leaves the old state live), then
    * sweep state dirs no longer referenced. Returns the served frame and
    * the refresh mode.
    *
    * THE STATE IS SHARDED ON group_key's HASH CELL ([[viewCellCol]]):
    * each state's manifest maps cell intervals to shard parquet dirs,
    * an incremental refresh reads and rewrites ONLY the shards whose
    * interval intersects the delta's cells, and every untouched shard
    * carries into the new manifest BY REFERENCE — its files in the older
    * state dir are neither read nor rewritten, so a 1-row refresh of a
    * million-group view costs O(viewShardRows + delta), not O(groups).
    * Written shards land at a grid pitch sized so each holds ≤
    * [[viewShardRows]] groups (split-on-rewrite: a shard that grew past
    * the target is replaced by finer grid dirs the next time its region
    * is touched); a rebuild re-grids the whole space uniformly. The
    * negative-count tripwire checks exactly the written shards (carried
    * shards passed it when they were written). The sweep keeps every
    * state dir REFERENCED by the new or the previously recorded
    * manifest, and everything else only falls once OLDER than the
    * staging TTL — so a lock-free reader holding a served DataFrame
    * survives any number of refreshes completing underneath it within
    * that window (same clock discipline as [[vacuum]]'s staging
    * sweep). */
  private def refreshView(name: String, groupKey: String,
      measures: Seq[(String, String)], aggOf: Map[String, String],
      where: Option[String], dCap: Int, spec: String, live: Long,
      recorded: Option[(Long, String, String)],
      serve: String => DataFrame): (DataFrame, String) = {
    val dir = viewDir(name)
    val aggKind = measures.map { case (n, _) => n -> aggOf.getOrElse(n, "sum") }
    // the merge needs the reserve columns; the RETURNED frame never does
    // (serve's explicit schema prunes them at the parquet scan)
    def readState(paths: Seq[String]): DataFrame =
      if (paths.isEmpty) emptyFrame(viewStateSchema(measures, aggOf))
      else spark.read.schema(viewStateSchema(measures, aggOf))
        .parquet(paths: _*)
    val prior = recorded.collect {
      case (v, h, st) if h == spec && v <= live &&
          Files.isDirectory(dir.resolve(st)) => (v, st)
    }
    val contribs = prior.flatMap { case (v0, _) =>
      if (v0 == live) None // spec matched but dir raced away: recompute
      else viewContribs(v0, live, groupKey, measures, aggOf, where)
    }
    val resMax = udaf(graft.functions.ReserveAggregator
      .reserve(viewReserveK, 1), org.apache.spark.sql.Encoders.LONG)
    val resMin = udaf(graft.functions.ReserveAggregator
      .reserve(viewReserveK, -1), org.apache.spark.sql.Encoders.LONG)
    val dictAgg = udaf(graft.functions.DictAggregator
      .dict(dCap), org.apache.spark.sql.Encoders.STRING)
    // the percentile rebuild/rescan arm's EXACT histogram: uncapped, so
    // the recomputed scalar is exact even for a group past the storage
    // cap (the stored dict is post-capped to NULL below — overflow is a
    // STORAGE state, never a wrong scalar). Per-group memory is
    // O(distinct values), the same class as Spark's own exact
    // percentile buffer; map-side combine still merges (value, count)
    // pairs, never rows.
    val dictAggU = udaf(graft.functions.DictAggregator
      .dict(Int.MaxValue), org.apache.spark.sql.Encoders.STRING)
    val nullDict = lit(null).cast(org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.LongType))
    // exact percentile_disc over a value→multiplicity histogram: sort
    // the (long value, weight) entries, walk the cumulative weight, and
    // take the FIRST value whose cume_dist reaches pct/100 — all in
    // integer arithmetic (cum*100 >= pct*total), so the incremental
    // and recompute arms can never diverge on float rounding, and the
    // result is exactly DuckDB's percentile_disc/quantile_disc
    def pctFromMap(m: Column, pct: Int): Column = {
      val entries = sort_array(transform(map_entries(m),
        e => struct(e("key").cast("long").as("v"), e("value").as("w"))))
      val total = aggregate(entries, lit(0L), (a, e) => a + e("w"))
      val walked = aggregate(entries,
        struct(lit(0L).as("cum"), lit(null).cast("long").as("ans")),
        (acc, e) => {
          val cum = acc("cum") + e("w")
          struct(cum.as("cum"),
            coalesce(acc("ans"),
              when(cum * 100 >= total * pct, e("v"))).as("ans"))
        })
      walked("ans")
    }
    val emptyArr = typedLit(Seq.empty[Long])
    // full aggregation of a sign=+1 contribution frame — the rebuild arm
    // and the group-scoped extreme rescan SHARE it, so the two can never
    // diverge on null/cast handling. MIN/MAX measures also store their
    // RESERVE: the group's true top-k value multiset, champion-first
    // (map-side combined — the shuffle carries ≤ k values per group per
    // partition, never the group's rows). COUNT DISTINCT measures store
    // the scalar (Spark's exact distinct agg) AND their bounded
    // dictionary (map-side combined, ≤ cap+1 entries per group per
    // partition; NULL = overflowed — the scalar stays exact).
    def fullAgg(frame: DataFrame): DataFrame = {
      val aggs =
        sum(col("sign")).as("doc_count") +:
        aggKind.flatMap {
          case (n, "min") => Seq(min(col(n)).as(n),
            resMin(col(n)).as(s"_res_$n"))
          case (n, "max") => Seq(max(col(n)).as(n),
            resMax(col(n)).as(s"_res_$n"))
          case (n, "count_distinct") => Seq(
            countDistinct(col(n)).as(n),
            dictAgg(col(n)).as(s"_dict_$n"))
          case (n, a) if MemoEngine.percentileOf(a).isDefined =>
            // ONE uncapped histogram feeds both outputs: the exact
            // scalar (correct even past the cap) and the stored dict
            // (NULL past the cap — the next value-touching window pays
            // the group-scoped rescan, the documented trade)
            val pct = MemoEngine.percentileOf(a).get
            val u = dictAggU(col(n))
            Seq(pctFromMap(u, pct).as(n),
              when(size(map_keys(u)) > dCap, nullDict).otherwise(u)
                .as(s"_dict_$n"))
          case (n, _) => Seq(sum(col(n)).as(n))
        }
      frame.groupBy(col("group_key")).agg(aggs.head, aggs.tail: _*)
    }
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    // an incremental merge's split: the prior shards it carries by
    // reference and the pitch cap of the region it rewrites
    var carriedShards: Seq[ViewShard] = Nil
    var widthCap: Int = MemoEngine.ViewShardCells
    try {
      val (mode, scanned, newState) = contribs match {
        case Some(delta) =>
          // SUM measures retract by negation. MIN/MAX have no additive
          // inverse; instead each group stores a RESERVE — its top-k
          // value multiset — which stays a PREFIX of the group's true
          // sorted values under this merge: retractions remove one
          // matching instance each (a value below the reserve floor was
          // never in it and is a no-op), adds merge in sorted position
          // but are DROPPED below the floor (beneath it the reserve may
          // have forgotten values, so their rank is unknowable), and the
          // champion is always the reserve's head. A champion retraction
          // is therefore O(delta) — the runner-up is already stored —
          // and ONLY a group whose whole reserve is exhausted recomputes,
          // from a corpus scan semi-joined down to exactly those keys.
          // ("_add_"/"_ret_"/"_res_" prefixes cannot collide with
          // measure names, which must start [a-z].)
          //
          // BOTH sides of a min/max measure collect UNCAPPED within the
          // window: capping the add side at k before netting is unsound —
          // a window that adds more than k values and then retracts one
          // of the kept top-k forgets the capped-out add, so the stored
          // reserve silently stops being a prefix of the group's true
          // sorted values and a later champion retraction serves a wrong
          // extreme with no exhaustion to trigger the rescan. The k-cap
          // is applied only at the final merge slice below, AFTER netting
          // has cancelled every in-window add/retract pair exactly. Cost
          // class is unchanged: the retract side was always an uncapped
          // collect_list, and both are bounded by the refresh window's
          // changed rows — which this arm scans in full regardless.
          val deltaAggs =
            sum(col("sign")).as("doc_count") +:
            aggKind.flatMap {
              case (n, a) if a == "min" || a == "max" ||
                  MemoEngine.dictBacked(a) => Seq(
                collect_list(when(col("sign") === 1L, col(n)))
                  .as(s"_add_$n"),
                collect_list(when(col("sign") === -1L, col(n)))
                  .as(s"_ret_$n"))
              case (n, _) => Seq(sum(col("sign") * col(n)).as(n))
            }
          val d = delta.groupBy(col("group_key"))
            .agg(deltaAggs.head, deltaAggs.tail: _*).cache()
          cached += d
          // the delta's hash cells decide which shards the merge must
          // read and rewrite; the rest carry by reference
          val (touchedShards, untouched, cap) =
            viewShards(name).split(prior.get._2, d)
          carriedShards = untouched
          widthCap = cap
          val o = readState(touchedShards
            .map(s => dir.resolve(s.path).toString))
          val oEx = col("o.doc_count").isNotNull // group_key can be null
          val newCount = coalesce(col("o.doc_count"), lit(0L)) +
            coalesce(col("d.doc_count"), lit(0L))
          // per min/max measure: (exhausted?, final reserve, final scalar)
          def resMerge(n: String, dirSign: Int)
              : (Column, Column, Column) = {
            val retsRaw = coalesce(col(s"d._ret_$n"), emptyArr)
            val addsRaw = coalesce(col(s"d._add_$n"), emptyArr)
            // FIRST cancel window-internal add/retract pairs at the value
            // level: a multi-step window can add a value in one step and
            // retract it in a later one (row updated twice, row added
            // then removed). Such a value must never reach the old
            // reserve as either side — the sum path cancels by sign, the
            // reserve path cancels here. Values are a multiset, so which
            // equal-valued instance cancels is immaterial.
            def drop1(arr: Column, v: Column): Column = {
              val pos = array_position(arr, v).cast("int")
              when(pos > 0,
                concat(slice(arr, lit(1), pos - 1),
                  slice(arr, pos + 1, size(arr) - pos)))
                .otherwise(arr)
            }
            val netted = aggregate(retsRaw,
              struct(addsRaw.as("adds"), emptyArr.as("rets")),
              (acc, r) => when(array_position(acc("adds"), r) > 0,
                  struct(drop1(acc("adds"), r).as("adds"),
                    acc("rets").as("rets")))
                .otherwise(struct(acc("adds").as("adds"),
                  concat(acc("rets"), array(r)).as("rets"))))
            val rets = netted("rets")
            val adds = netted("adds")
            // remove ONE instance per surviving retracted value
            // (array_remove would take all); values absent from the
            // reserve are below its floor — retracting them can't move
            // the stored prefix
            val removed = aggregate(rets,
              coalesce(col(s"o._res_$n"), emptyArr),
              (acc, r) => drop1(acc, r))
            val exhausted = oEx && size(removed) === 0 && newCount > 0L
            val floor = element_at(removed, size(removed))
            val sorted = sort_array(concat(removed, adds), asc = dirSign < 0)
            val kept = filter(sorted,
              x => if (dirSign > 0) x >= floor else x <= floor)
            // adds is raw collect_list order — a brand-new group's
            // reserve must still be sorted champion-first and capped
            val addsRes = slice(sort_array(adds, asc = dirSign < 0),
              lit(1), lit(viewReserveK))
            val resFinal =
              when(!oEx, addsRes).otherwise(
                when(size(removed) === 0, emptyArr)
                  .otherwise(slice(kept, lit(1), lit(viewReserveK))))
            val scalar = when(size(resFinal) > 0, element_at(resFinal, 1))
              .otherwise(lit(null).cast("long"))
            (exhausted, resFinal, scalar)
          }
          val mergedMM = aggKind.collect {
            case (n, "max") => n -> resMerge(n, 1)
            case (n, "min") => n -> resMerge(n, -1)
          }.toMap
          // per COUNT DISTINCT measure: (broken?, final dict, final
          // scalar). The stored dictionary is EXACT (every live value
          // with its multiplicity) or NULL (overflowed past the cap) —
          // unlike a reserve there is no partial prefix, so a covered
          // merge is total: fold the window's signed value events into
          // the map (add +1, retract −1, drop keys at 0) and the scalar
          // is the key count. Broken ⇔ the dictionary can't answer:
          // the group is in overflow AND the window touches its values
          // (stale-scalar risk), or a retraction misses the map / drives
          // a count negative (feed and state disagree — the rescan
          // restores truth rather than serving it silently wrong). A
          // merge that pushes the group PAST the cap is still exact this
          // once (the fold saw every value): the scalar serves, the
          // dictionary drops, and only the group's next value-touching
          // window pays the rescan.
          val emptyStrArr = typedLit(Seq.empty[String])
          val emptyDict = typedLit(Map.empty[String, Long])
          // `scalarOf` turns the window's EXACT folded histogram into
          // the measure's scalar — key count for COUNT DISTINCT, the
          // cumulative percentile walk for median/pNN. The fold saw the
          // old dict plus every window event, so the scalar is exact
          // even on the merge that pushes the group PAST the cap (the
          // dict drops, the scalar serves — same contract both kinds).
          def dictMerge(n: String, scalarOf: Column => Column)
              : (Column, Column, Column) = {
            val adds = coalesce(col(s"d._add_$n"), emptyStrArr)
            val rets = coalesce(col(s"d._ret_$n"), emptyStrArr)
            val touched = (size(adds) + size(rets)) > 0
            val oldDict = col(s"o._dict_$n")
            val events = concat(
              transform(adds, v => struct(v.as("v"), lit(1L).as("dc"))),
              transform(rets, v => struct(v.as("v"), lit(-1L).as("dc"))))
            val folded = aggregate(events,
              struct(coalesce(oldDict, emptyDict).as("m"),
                lit(false).as("bad")),
              (acc, e) => {
                val cnt = coalesce(element_at(acc("m"), e("v")), lit(0L)) +
                  e("dc")
                val rest = map_filter(acc("m"), (kk, _) => kk =!= e("v"))
                struct(
                  when(cnt === 0L, rest)
                    .otherwise(map_concat(rest,
                      org.apache.spark.sql.functions.map(e("v"), cnt)))
                    .as("m"),
                  (acc("bad") || cnt < 0L).as("bad"))
              })
            val f = folded("m")
            val overflowTouch = oEx && oldDict.isNull && touched
            val brokenD = overflowTouch || (touched && folded("bad"))
            val scalar = when(!touched, coalesce(col(s"o.$n"), lit(0L)))
              .otherwise(scalarOf(f))
            // a NEW group (no old row) whose window carried only NULL
            // values is untouched with no oldDict — store the EMPTY map,
            // not NULL: NULL is the overflow sentinel, and propagating it
            // here would make the group's first real value pay a rescan
            // instead of an O(delta) insert
            val dictFinal = when(!touched,
                when(oEx, oldDict).otherwise(emptyDict))
              .otherwise(when(size(f) > dCap,
                lit(null).cast(org.apache.spark.sql.types.MapType(
                  org.apache.spark.sql.types.StringType,
                  org.apache.spark.sql.types.LongType)))
                .otherwise(f))
            (brokenD, dictFinal, scalar)
          }
          val mergedDD = aggKind.collect {
            case (n, "count_distinct") =>
              n -> dictMerge(n, f => size(f).cast("long"))
            case (n, a) if MemoEngine.percentileOf(a).isDefined =>
              n -> dictMerge(n,
                f => pctFromMap(f, MemoEngine.percentileOf(a).get))
          }.toMap
          val brokenCols = mergedMM.values.map(_._1) ++
            mergedDD.values.map(_._1)
          val broken =
            if (brokenCols.isEmpty) lit(false)
            else brokenCols.reduce(_ || _)
          val merged = o.as("o")
            .join(d.as("d"), col("o.group_key") <=> col("d.group_key"),
              "full_outer")
            .select(
              coalesce(col("o.group_key"), col("d.group_key"))
                .as("group_key") +:
              newCount.as("doc_count") +:
              (aggKind.flatMap {
                case (n, "max") => Seq(mergedMM(n)._3.as(n),
                  mergedMM(n)._2.as(s"_res_$n"))
                case (n, "min") => Seq(mergedMM(n)._3.as(n),
                  mergedMM(n)._2.as(s"_res_$n"))
                case (n, a) if MemoEngine.dictBacked(a) =>
                  Seq(mergedDD(n)._3.as(n),
                    mergedDD(n)._2.as(s"_dict_$n"))
                case (n, _) => Seq(
                  (coalesce(col(s"o.$n"), lit(0L)) +
                    coalesce(col(s"d.$n"), lit(0L))).as(n))
              } :+ broken.as("_broken")): _*)
            .filter(col("doc_count") =!= 0L) // keep negatives visible below
          val m = merged.cache(); cached += m
          val brokenKeys = m.filter(col("_broken")).select(col("group_key"))
          if (brokenKeys.isEmpty)
            ("incremental", delta.inputFiles.toSeq, m.drop("_broken"))
          else {
            val segs = whereSurviving(segments(live, "records"), where)
            val corpus = viewContribOf(
              if (segs.isEmpty) emptyFrame(YamlIO.recordSchema)
              else readSegments("records", segs),
              1, groupKey, measures, aggOf, where)
            val rescanned = fullAgg(
              corpus.join(brokenKeys.as("bk"),
                corpus("group_key") <=> col("bk.group_key"), "left_semi"))
            ("incremental_rescan", delta.inputFiles.toSeq ++ segs,
              m.filter(!col("_broken")).drop("_broken")
                .unionByName(rescanned))
          }
        case None =>
          val segs = whereSurviving(segments(live, "records"), where)
          val full = fullAgg(
            if (segs.isEmpty)
              viewContribOf(emptyFrame(YamlIO.recordSchema),
                1, groupKey, measures, aggOf, where)
            else viewContribOf(
              readSegments("records", segs),
              1, groupKey, measures, aggOf, where))
          ("rebuild", segs, full)
      }
      // publish O(touched): only rewritten groups land in the new state
      // dir; untouched shards carry by reference, never read, never
      // rewritten. The negative-count tripwire checks exactly the
      // written shards (carried shards passed it when they were written)
      val (stateDir, nWritten) = viewShards(name).publish(newState,
          s"v$live-", recorded.map(_._3), carriedShards, widthCap) {
        (gen, written) =>
          val negatives =
            if (written == 0) 0L
            else spark.read.parquet(dir.resolve(gen).toString)
              .filter(col("doc_count") < 0L).count()
          if (negatives > 0) {
            deleteTree(dir.resolve(gen))
            throw new IllegalStateException(
              s"view '$name' refresh produced $negatives negative-count " +
              s"groups — a retraction without a matching prior " +
              s"contribution (feed and state disagree); old state left live")
          }
          ArtifactMeta.write(spark, dir.toString, ViewMetaFile,
            s"$live|$spec|$gen")
      }
      lastViewRefresh = Some((mode, scanned))
      lastViewPublish = Some((nWritten, carriedShards.size))
      (serve(stateDir), mode)
    } finally cached.foreach(_.unpersist())
  }

  /** Fragmentation statistic of a view's sharded state: live shard
    * count over the IDEAL count for its recorded group total — 1.0 is a
    * uniform grid at [[viewShardRows]] groups per shard; split-on-
    * rewrite plus churn (groups added fine, then retracted away) drives
    * it up, because shards SPLIT when a region grows but never re-widen
    * when it shrinks. Priced ENTIRELY from the manifest (shard counts
    * are recorded at write time and carried entries are untouched by
    * definition) — driver metadata, NO Spark job, the same discipline
    * as [[ivfSkew]]. Entries predating recorded counts price as one
    * full shard each (conservative: understates fragmentation, never
    * triggers an over-eager compact). None for an absent view or a
    * legacy unsharded state. */
  def viewFragmentation(name: String): Option[Double] = {
    val dir = viewDir(name)
    ArtifactMeta.read(spark, dir.toString, ViewMetaFile)
      .map(_.split('|')).collect { case Array(_, _, st) => st }
      .flatMap(st => readShardManifest(dir.resolve(st)))
      .filter(_.nonEmpty)
      .map { shards =>
        val total = shards
          .map(s => if (s.rows >= 0) s.rows else viewShardRows.toLong).sum
        val ideal = math.max(1L,
          (total + viewShardRows - 1) / viewShardRows)
        shards.size.toDouble / ideal
      }
  }

  /** COMPACTION of a view's sharded state — the inverse maintenance op
    * to split-on-rewrite: one locked rewrite of the state at a fresh
    * UNIFORM grid pitch sized for its CURRENT group count. Fires only
    * past `maxFragmentation` (the [[viewFragmentation]] check — driver
    * metadata, a no-drift call never touches data), the [[retrainIvf]]
    * discipline applied to the view family. The rewrite is O(state) —
    * a pure re-layout off the live shards, never a corpus scan — and
    * publishes with the refresh arm's exact crash discipline: new state
    * dir, manifest, THEN the meta swing (same version, same spec, so
    * the next [[viewState]] serves the compacted layout via the
    * lock-free fresh arm and the next refresh merges into it
    * incrementally), then the TTL sweep. Returns true iff a rewrite
    * happened. */
  def compactView(name: String,
      maxFragmentation: Double = MemoEngine.DefaultViewCompactFrag)
      : Boolean = {
    require(maxFragmentation >= 1.0,
      s"maxFragmentation must be >= 1.0, got $maxFragmentation")
    val dir = viewDir(name)
    // racy pre-check to keep the no-op path lock-free; re-checked under
    // the lock below before any data is touched
    if (viewFragmentation(name).forall(_ <= maxFragmentation)) return false
    ArtifactMeta.withBuildLock(spark, dir.toString) {
      val meta = ArtifactMeta.read(spark, dir.toString, ViewMetaFile)
        .map(_.split('|'))
      meta match {
        case Some(Array(v, spec, st))
            if viewFragmentation(name).exists(_ > maxFragmentation) =>
          // shards of one spec share one schema; the plain parquet read
          // carries reserve/dictionary state columns through verbatim
          val (_, nWritten) = viewShards(name).publish(
              spark.read.parquet(shardPaths(dir, st): _*), s"v$v-",
              Some(st)) { (gen, _) =>
            ArtifactMeta.write(spark, dir.toString, ViewMetaFile,
              s"$v|$spec|$gen")
          }
          lastViewPublish = Some((nWritten, 0))
          true
        case _ => false
      }
    }
  }

  /** Registered view names (the `_view_<name>` artifacts under the store
    * root), fresh or behind. */
  def views: Seq[String] =
    if (!Files.isDirectory(base)) Nil
    else listDir(base).filter(Files.isDirectory(_))
      .map(_.getFileName.toString)
      .filter(_.startsWith("_view_")).map(_.stripPrefix("_view_")).sorted

  /** Decode a recorded view spec back to (groupKey, measures, aggOf,
    * where, distinctCap) — the inverse of [[viewState]]'s
    * component-wise encoding (the cap is None when the spec carries no
    * d-part, i.e. no distinct measure — [[refreshViews]] then passes
    * None and the engine default governs, vacuously). None overall for
    * a legacy or corrupt spec: the next direct [[viewState]] call with
    * the caller's arguments re-registers the view from scratch. */
  private def decodeViewSpec(spec: String): Option[(String,
      Seq[(String, String)], Map[String, String], Option[String],
      Option[Int])] = {
    def un(s: String) =
      new String(java.util.Base64.getUrlDecoder.decode(s), "UTF-8")
    val parts = spec.split(':')
    val head = "^k(\\d+)(?:w([A-Za-z0-9_\\-]*))?$".r
    parts.headOption.collect { case head(_, w) => Option(w) } match {
      case None => None
      case Some(whereB64) =>
        // optional distinct-cap part (`d<cap>`, present iff the view has
        // a count_distinct measure): part counts 3+3m vs 2+3m
        // disambiguate — see the spec-identity comment in [[viewState]]
        val body =
          if (parts.length >= 2 && (parts.length - 2) % 3 == 0)
            Some((parts.drop(1), Option.empty[Int]))
          else if (parts.length >= 3 && (parts.length - 3) % 3 == 0 &&
              parts(1).matches("d\\d+"))
            Some((parts.drop(2), parts(1).drop(1).toIntOption))
          else None
        body.flatMap { case (b, cap) =>
          scala.util.Try {
            val ms = b.drop(1).grouped(3).map {
              case Array(n, a, e) => (un(n), a, un(e))
            }.toSeq
            (un(b(0)), ms.map(t => (t._1, t._3)),
              ms.collect { case (n, a, _) if a != "sum" => (n, a) }.toMap,
              whereB64.map(un), cap)
          }.toOption
        }
    }
  }

  /** One-call POST-INGEST maintenance — the nightly-maintenance shape
    * at scale: bring EVERY engine-maintained artifact current against
    * the live committed version (BM25 postings, the IVF/IVF-PQ
    * artifact, admission signatures, every registered view), so
    * subsequent serving calls pay ZERO catch-up, and optionally retrain
    * the vector quantizers when their stored occupancy skew exceeds
    * `retrainSkew` (the drift policy — a metadata-only check when
    * balanced, see [[retrainIvf]]).
    * Each family runs its own documented watermark walk: a fresh family
    * costs two metadata reads, a behind family exactly its catch-up
    * arm — this op adds no machinery, it schedules the machinery so an
    * ingest pipeline can pay maintenance at a chosen time instead of on
    * the first post-commit read.
    *
    * The three families run as CONCURRENT legs ([[MemoEngine.legs]]),
    * each walk followed by its own tombstone apply / retrain / labeling
    * step: their small jobs and driver-side work (planning, k-means,
    * Parquet writes) overlap instead of queueing. The legs share no
    * lock — each family has its own artifact dir, build lock and
    * watermark, and the one shared memo (the retract diff) is guarded by
    * its own lock. A failed leg fails the call only after every leg has
    * finished, with the first failure in leg order; its family's
    * watermark stays behind and the next call catches it up. Views
    * refresh (and compact) after the legs. Returns a per-family status
    * report; each family's value names the arm its walk took on this
    * call, e.g. `current (append)`, `current (rebuild, nlist 64)` or
    * `current (retract, j 0.8)`. */
  def maintain(retrainSkew: Option[Double] = None,
      compactFragmentation: Option[Double] = None): Map[String, String] = {
    if (currentVersion.isEmpty) return Map("store" -> "empty")
    def applied(fired: Boolean) = if (fired) "applied" else "none pending"
    def retrained(fired: Boolean, skew: => Option[Double]) =
      if (fired) "fired"
      else s"skipped (skew ${skew.map(v => f"$v%.1f").getOrElse("n/a")})"
    // the postings family's apply is the LSM fold itself
    // ([[graft.ops.Lexical.compact]] — it rewrites the whole postings
    // table, not just affected partitions), so it runs only when a
    // driver-side metadata probe says tombstones are actually pending
    val lexicalLeg = () => {
      val arm = ensureLexical()
      val pending = graft.ops.Lexical.pendingTombstones(spark, lexDir)
      if (pending) graft.ops.Lexical.compact(spark, lexDir)
      Seq("lexical" -> s"current ($arm)",
        "lexical_apply" -> applied(pending))
    }
    // physical tombstone apply on the cell-partitioned families: a
    // retract fold (or an explicit artifact delete) leaves pending
    // tombstones the probes anti-join; applying them rewrites ONLY the
    // affected cells, and is a metadata read when nothing is pending
    val ivfLeg = () => {
      val (ivf, arm) = ensureIvf()
      Seq("ivf" -> ivf.map { case (c, cb) =>
          s"current ($arm, nlist ${c.length}, " +
            s"pq ${cb.length}x${cb(0).length})"
        }.getOrElse("empty")) ++
        ivf.map(_ => "ivf_apply" ->
          applied(graft.ops.IvfIndex.applyDeletes(spark, annDir))) ++
        retrainSkew.map(t =>
          "ivf_retrain" -> retrained(retrainIvf(t), ivfSkew()))
    }
    // the dup-group labeling is maintained only for stores that asked
    // for it (its spec file records the registered threshold) — maintain
    // never CREATES the artifact, it brings an existing one current. It
    // rides the signature leg: its walk re-walks the signatures first.
    val signatureLeg = () => {
      val arm = ensureSignatures()
      ("signatures" -> s"current ($arm)") +:
        ArtifactMeta.read(spark, dupDir, DupSpecFile)
          .flatMap(_.stripPrefix("j").toDoubleOption).map { j =>
            "dupgroups" -> s"current (${dupGroupsArm(j)._2}, j $j)"
          }.toSeq
    }
    val b = scala.collection.mutable.LinkedHashMap.empty[String, String]
    MemoEngine.legs(spark)(lexicalLeg, ivfLeg, signatureLeg)
      .foreach(b ++= _)
    refreshViews().foreach { case (n, st) => b += (s"view:$n" -> st) }
    // compaction AFTER the refresh walk: fragmentation is a property of
    // the just-published layout, and a compact before the refresh would
    // re-grid a stale state only for the refresh to split it again
    compactFragmentation.foreach { t =>
      views.foreach { n =>
        b += (s"compact:$n" -> (if (compactView(n, t)) "fired"
          else s"skipped (frag ${viewFragmentation(n)
            .map(v => f"$v%.1f").getOrElse("n/a")})"))
      }
    }
    b.toMap
  }

  /** Bring EVERY registered view to the live store version in one call —
    * the post-batch maintenance hook (run after a bulk ingest instead of
    * letting each view's next reader pay its catch-up). Each view's
    * recorded spec is decoded from its own meta, so callers don't
    * restate groupKey/measures; refreshes ride the standard locked path,
    * each step's delta/feed read O(changed rows). Returns name → refresh
    * mode ("fresh" / "incremental" / "incremental_rescan" / "rebuild";
    * "skipped" for a meta this build can't decode). */
  def refreshViews(): Map[String, String] =
    views.map { name =>
      val decoded = ArtifactMeta
        .read(spark, viewDir(name).toString, ViewMetaFile)
        .flatMap(_.split('|') match {
          case Array(_, spec, _) => decodeViewSpec(spec)
          case _ => None
        })
      name -> decoded.map { case (gk, ms, aggs, where, cap) =>
        viewStateArm(name, gk, ms, aggs, where, cap)._2
      }.getOrElse("skipped")
    }.toMap

  /** Drop a view artifact (state + meta) under its build lock; false if
    * absent. The store itself is untouched. */
  def dropView(name: String): Boolean =
    ArtifactMeta.withBuildLock(spark, viewDir(name).toString) {
      if (!Files.isDirectory(viewDir(name))) false
      else { deleteTree(viewDir(name)); true }
    }

  /** Reindex/compaction (memo_cli.py:334-366): drop blank/deleted, dense
    * re-sequence, rebuild the index. Returns number of dropped records. */
  def reindex(): Long = MemoEngine.retryOnConflict {
    val v0 = currentVersion // the optimistic-concurrency token
    val before = records.count()
    val compacted = MemoOps.reindex(records).select("id", "body", "metadata")
    val after = compacted.count()
    commit(compacted, v0)
    before - after
  }

  /** Keep-one-per-duplicate-GROUP compaction — [[reindex]]'s drop set
    * (memo_cli.py:334-366's blank/deleted rows) generalized to
    * NEAR-DUPLICATE rows: every doc the maintained transitive labeling
    * ([[dupGroups]]) marks a non-representative group member
    * (`id != component` — the keep-one rule is one anti-join) drops in
    * the SAME dense-resequencing versioned commit, alongside the
    * blank/deleted rows reindex already drops. The group representative
    * (smallest id, the doc [[graft.ops.Dedup.exactByKey]]-style keep
    * rules also pick) survives.
    *
    * Cost shape: the labeling is served from the maintained artifact
    * (brought current by the [[dupGroups]] walk — O(batch) on
    * append-only chains), the drop is one anti-join on a labels frame
    * that only holds duplicate-group members, and the rewrite is the
    * reindex commit the store already prices. Concurrency rides the
    * optimistic token: a racing writer fails this commit's CAS and
    * [[MemoEngine.retryOnConflict]] re-derives the labeling from fresh
    * state — a doc appended mid-compact is never silently dropped.
    * Downstream, every maintained family (and the labeling itself) sees
    * an ordinary rewrite commit and converges through its captured-
    * version arm. Returns the number of dropped records (duplicates +
    * blank/deleted). */
  def dedupCompact(minJaccard: Double = 0.8): Long =
    MemoEngine.retryOnConflict {
      currentVersion match {
        case None => 0L // uncommitted store: nothing to compact
        case v0 @ Some(_) => // the optimistic-concurrency token
          val losers = dupGroups(minJaccard)
            .filter(col("id") =!= col("component")).select(col("id"))
          val before = records.count()
          val kept = records.join(losers, Seq("id"), "left_anti")
          val compacted = MemoOps.reindex(kept)
            .select("id", "body", "metadata")
          val after = compacted.count()
          commit(compacted, v0)
          before - after
      }
    }

  /** ≤ cells−1 evenly spaced range boundaries over a bounded uniform
    * sample of one cluster key's distinct values ([[clusterBy]]'s
    * gridding), plus whether the key read as ALL-NUMERIC. The sample is
    * the top-4096 distinct values by xxhash64 — a deterministic uniform
    * subset gathered with a bounded-heap TopK (no full sort; one narrow
    * distinct shuffle over just the key column). When every sampled
    * value parses numerically the boundaries sort NUMERICALLY and the
    * caller compares numerically — code-point order scatters a numeric
    * key's adjacent values ("10" < "9"), which leaves a numeric-range
    * filter's sidecar bounds wide in every segment; otherwise
    * boundaries stay in code-point order, the order the grid
    * expression's string comparison (and the stats sidecars) use.
    * NUMERIC DETECTION IS LAYOUT-ONLY: a value the sample missed (or a
    * skewed sample) can cost pruning effectiveness, never correctness —
    * `canMatch` always decides from each segment's recorded stats.
    * Driver traffic is ≤ 4096 strings per key by construction. */
  private[graft] def clusterBoundaries(recs: DataFrame, keyCol: Column,
      cells: Int): (Seq[String], Boolean) = {
    val sampleCap = 4096
    val sample = recs.select(keyCol.as("v"))
      .filter(col("v").isNotNull).distinct()
      .orderBy(xxhash64(col("v")), col("v"))
      .limit(sampleCap)
      .collect().map(_.getString(0))
    val numeric = sample.nonEmpty && sample.forall(_.toDoubleOption.isDefined)
    // under the numeric order, dedup by PARSED value before picking
    // quantiles: two renderings that parse equal ("1" and "1.0") are one
    // numeric boundary — string-distinct would keep both and the
    // duplicate boundary makes an empty grid cell, skewing the
    // low-cardinality cell-scaling denominator. Layout-only, as ever.
    val sorted =
      if (numeric) {
        val seen = scala.collection.mutable.Set.empty[Double]
        sample.sortBy(_.toDouble).filter(v => seen.add(v.toDouble))
      } else sample.sortWith(
        (a, b) => graft.filter.SegmentStats.cpCompare(a, b) < 0)
    val bs = if (sorted.isEmpty) Seq.empty[String]
      else (1 until cells).map(i =>
          sorted(((i.toLong * sorted.length) / cells).toInt))
        .distinct
    (bs, numeric)
  }

  /** Metadata-clustered compaction — the OPTIMIZE … CLUSTER BY shape
    * for the store: rewrite the live corpus as ONE versioned commit
    * whose segments are RANGE-CLUSTERED on a metadata key's
    * Python-str() order, so `_metastats` data skipping
    * ([[recordsForFilter]]) prunes filters on that key to O(matching
    * segments) even when ingest order never correlated with it. The
    * skipping is only as good as the layout; this is the maintenance
    * op that FIXES the layout.
    *
    * One range-partitioning shuffle of (id, body, metadata) plus a
    * broadcast-scale join to carry the index rows — ZERO re-embedding
    * (the embeddings are keyed by id and ids don't change; spec-pinned
    * by the embed-call counter). Rows missing the key (or metadata)
    * cluster together at the low end. Cluster segments' id sets stay
    * DISJOINT (each id lands in exactly one cluster) but their id
    * RANGES overlap, which [[patchMerge]]'s interval tests treat
    * soundly over-approximately — a later id-targeted patch may rewrite
    * an extra cluster, never miss one. Concurrency, history, CDC, and
    * artifact maintenance all see an ordinary rewrite commit (CAS
    * publish, `history` kind "rewrite", changefeed empty by content,
    * `ensure*`/views converge via their captured-version arms).
    * Returns the new live version. */
  def clusterBy(key: String, nClusters: Int = 8): Long =
    clusterBy(Seq(key), nClusters)

  /** Multi-key form: segments cluster on the Z-ORDER (Morton) curve
    * over the keys, so `_metastats` prunes selective filters on EVERY
    * listed key from one layout — the OPTIMIZE … ZORDER BY shape. Each
    * key's Python-str() values map onto a 64-cell grid through ≤ 63
    * range boundaries estimated from a bounded uniform sample of the
    * key's DISTINCT values (top-4096 by value hash — deterministic, no
    * full sort; one narrow distinct shuffle per key), then the per-key
    * cells interleave bit-by-bit ([[graft.ops.Layout.mortonN]] — plain
    * codegen shift/mask arithmetic) and the range partitioner splits
    * the z values into `nClusters` contiguous intervals. Boundary
    * quality only shapes the LAYOUT; `canMatch` decisions always come
    * from each segment's recorded stats, so a skewed sample can cost
    * pruning effectiveness, never correctness. Rows missing a key grid
    * to cell 0 on that dimension (nulls low, the single-key contract).
    * A single key skips the gridding entirely — ranges partition the
    * raw value order, strictly finer than any grid. */
  def clusterBy(keys: Seq[String], nClusters: Int): Long =
      MemoEngine.retryOnConflict {
    require(nClusters >= 2 && nClusters <= 256,
      s"nClusters must be in [2, 256], got $nClusters")
    require(keys.nonEmpty && keys.size <= 8 && keys.distinct == keys,
      s"clusterBy takes 1..8 distinct keys, got $keys")
    val v0 = currentVersion
    val recs = records
    val idx = index
    publishVersion(v0, None) { (staging, nv) =>
      def keyCol(k: String) = metaPyStr(element_at(col("metadata"), k))
      // the range partitioner makes each partition a contiguous
      // interval of the sort value — the cluster ordinal IS the
      // partition id; the id tiebreak keeps a single dominant value
      // splittable
      val sortHead: Column =
        if (keys.size == 1) {
          // numeric-aware single-key order: an all-numeric key range-
          // partitions on its NUMERIC order (code-point order scatters
          // "9" away from "10"); non-numeric rows cast to null and
          // cluster low with the missing-key rows. Detection rides the
          // same bounded sample as the grid — layout-only, see
          // [[clusterBoundaries]]
          val kc = keyCol(keys.head)
          val (_, numeric) = clusterBoundaries(recs, kc, 2)
          if (numeric) kc.try_cast("double").asc_nulls_first
          else kc.asc_nulls_first
        } else {
          val bits = math.min(6, graft.ops.Layout.bitsPerDim(keys.size))
          val slots = 1L << bits
          val cells = keys.map { k =>
            val (bs, numeric) = clusterBoundaries(recs, keyCol(k), 1 << bits)
            // grid cell = #boundaries strictly below the value; a null
            // (missing key, or non-numeric under a numeric grid) fails
            // every comparison and lands in cell 0
            val raw =
              if (numeric)
                bs.foldLeft(lit(0L))((acc, b) =>
                  acc + when(keyCol(k).try_cast("double") > lit(b.toDouble),
                    1L).otherwise(0L))
              else
                bs.foldLeft(lit(0L))((acc, b) =>
                  acc + when(keyCol(k) > lit(b), 1L).otherwise(0L))
            // SCALE low-cardinality dims across the full bit range: a
            // 4-value key's raw cells 0..3 occupy only the two LOWEST
            // bits, which interleave at the z value's least-significant
            // positions — the range partitioner would then split almost
            // entirely by the higher-cardinality keys and leave this key
            // scattered through every cluster. Spreading the cells to
            // 0, 16, 32, 48 (integer-uniform over [0, 2^bits)) puts
            // every dim's variation at comparable significance, so
            // mixed-cardinality key sets still prune on EVERY key.
            // (Column./ is double division; magnitudes ≤ 2^12 are exact
            // in double, so floor IS the integer quotient.)
            floor(raw * lit(slots) / lit((bs.length + 1).toLong))
              .cast("long")
          }
          graft.ops.Layout.mortonN(cells, bits).asc
        }
      val bucketed = recs
        .repartitionByRange(nClusters, sortHead, col("id").asc)
        .withColumn("_cluster", spark_partition_id())
        .cache()
      try {
        bucketed.write.mode("overwrite").partitionBy("_cluster")
          .parquet(staging.resolve("rc").toString)
        idx.join(bucketed.select(col("id"), col("_cluster")), Seq("id"))
          .write.mode("overwrite").partitionBy("_cluster")
          .parquet(staging.resolve("ic").toString)
      } finally bucketed.unpersist()
      // promote the partition dirs to positionally PAIRED segment dirs
      // (records_cN ↔ index_cN — the pairing patchMerge scopes by); an
      // all-blank-body cluster has no index partition dir, so its pair
      // is created empty to keep the manifests aligned
      val rcDir = staging.resolve("rc")
      val listing = Files.list(rcDir)
      val clusters =
        try listing.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("_cluster="))
          .map(_.stripPrefix("_cluster=").toInt).toSeq.sorted
        finally listing.close()
      require(clusters.nonEmpty, "clusterBy on an empty store")
      clusters.foreach { c =>
        val rDst = staging.resolve(s"records_c$c")
        Files.move(rcDir.resolve(s"_cluster=$c"), rDst)
        writeIdRange(rDst) // id-range + metastats sidecars per cluster
        val iSrc = staging.resolve("ic").resolve(s"_cluster=$c")
        val iDst = staging.resolve(s"index_c$c")
        if (Files.exists(iSrc)) Files.move(iSrc, iDst)
        else Files.createDirectories(iDst)
      }
      deleteTree(rcDir)
      deleteTree(staging.resolve("ic"))
      (clusters.map(c => versionDir(nv).resolve(s"records_c$c").toString),
        clusters.map(c => versionDir(nv).resolve(s"index_c$c").toString))
    }
  }

  /** Roll the live table back to retained version `v` by COMMITTING its
    * state as a new version (the Delta RESTORE shape): history stays
    * intact — the rollback is itself a versioned, CAS-protected commit, so
    * it composes with concurrent writers, and a changefeed across it
    * reports exactly what it undid. The historical records AND index copy
    * forward as a fresh snapshot — ZERO re-embedding (the index at `v` is
    * definitionally correct for the records at `v`; spec-pinned by the
    * embed-call counter). Maintained artifacts see an ordinary chain
    * rewrite and converge through their captured-version rebuild arms.
    * Fails loudly if `v` was vacuumed past ([[recordsAt]]). Returns the
    * new live version. */
  def restore(v: Long): Long = MemoEngine.retryOnConflict {
    val recs = recordsAt(v)
    val idx = indexAt(v)
    publishVersion(currentVersion, None) { (staging, nv) =>
      idx.write.mode("overwrite").parquet(staging.resolve("index").toString)
      recs.write.mode("overwrite")
        .parquet(staging.resolve("records").toString)
      writeIdRange(staging.resolve("records")) // patch/skip sidecars
      snapshotSegs(nv)
    }
  }

  /** Branch this store: materialize version `v` (default live) as a brand
    * new store at `targetBase` — the experiment-branch primitive for a
    * training-data store (try a cleanup recipe on a branch, diff it with
    * the changefeed, throw it away; the source never sees it).
    *
    * `deep = false` (default) is the Delta SHALLOW CLONE shape — ZERO data
    * copy at any corpus size: the clone's v0 manifests reference the
    * source version's segment directories in place, so creating it is a
    * few metadata writes whether the corpus is 60k rows or 100 TB. The
    * clone is immediately writable; its own commits land under its own
    * base, and the first rewrite commit (overwrite-save / reindex /
    * restore) naturally localizes it completely. CAVEAT (same as Delta's):
    * a source-side `vacuum` that reclaims a referenced segment, or
    * `clean()`, breaks the clone's remaining references — LOUDLY
    * (FileNotFound / versions drops v0), never a partial read; pin the
    * source with `vacuum(retainVersions = …)` for as long as shallow
    * clones of it live.
    *
    * `deep = true` copies the resolved records AND index into the clone
    * (one distributed read+write, still ZERO re-embedding) — fully
    * independent of the source's retention at O(corpus) cost.
    *
    * The streaming watermark deliberately does NOT carry over: the clone
    * is a new lineage, and inheriting the source's batch-id high-water
    * mark would silently drop the first batches of any stream pointed at
    * it. Maintained artifacts (_ann/postings/signatures) are not
    * cloned; the clone's `ensure*` rebuild them lazily off the copied
    * index — no re-embedding there either.
    *
    * Publication rides the standard commit protocol ON THE TARGET (staged
    * privately, CAS-verified "still no store here", atomic rename), so a
    * concurrent clone to the same path loses loudly with
    * [[MemoEngine.ConcurrentCommitException]] and a crashed attempt is an
    * invisible staging corpse the target's vacuum TTL-sweeps. Fails loudly
    * if `v` is vacuumed/torn, or if `targetBase` already holds a store.
    * Returns the clone's engine. */
  def cloneTo(targetBase: String, version: Option[Long] = None,
      deep: Boolean = false): MemoEngine = {
    val cur = currentVersion.getOrElse(
      throw new IllegalArgumentException(s"no store at $basePath to clone"))
    val v = version.getOrElse(cur)
    // resolve NOW, loudly (vacuumed/torn history throws here). The
    // shallow path validates segment EXISTENCE directly — file stats,
    // no DataFrame construction (whose eager listing walks every
    // segment's files and would make a metadata-only clone pay an
    // O(corpus-files) listing); the deep path reads through the
    // validated historical view anyway.
    if (v > cur || !Files.isDirectory(versionDir(v)))
      throw new IllegalArgumentException(
        s"version v$v does not exist (live is v$cur)")
    val missing = (segments(v, "records") ++ segments(v, "index"))
      .filterNot(s => Files.exists(Paths.get(s)))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"version v$v is no longer resolvable: vacuum reclaimed " +
        s"${missing.mkString(", ")}")
    val clone = new MemoEngine(spark, targetBase, maxSegments)
    if (clone.exists)
      throw new IllegalArgumentException(
        s"target $targetBase already holds a store (version " +
        s"${clone.currentVersion.get}) — clone refuses to overwrite")
    // published with no prior version: no stream watermark to carry
    clone.publishVersion(None, None) { (staging, cv) =>
      Files.writeString(staging.resolve("cloned_from"),
        s"$basePath@v$v${if (deep) " deep" else ""}\n")
      if (deep) {
        recordsAt(v).write.mode("overwrite")
          .parquet(staging.resolve("records").toString)
        // the copy is a fresh segment: record its id range so the clone's
        // future overwrite/CDC merges can segment-prune from day one
        clone.writeIdRange(staging.resolve("records"))
        indexAt(v).write.mode("overwrite")
          .parquet(staging.resolve("index").toString)
        clone.snapshotSegs(cv)
      } else (segments(v, "records"), segments(v, "index"))
    }
    clone
  }

  /** Provenance of a cloned store: `source@vN [deep]`, as long as the v0
    * commit survives the clone's own vacuum — once retention reclaims it,
    * the store has been fully rewritten and is no longer a derived view. */
  def clonedFrom: Option[String] = {
    val p = versionDir(0).resolve("cloned_from")
    if (Files.exists(p)) Some(Files.readString(p).trim) else None
  }

  /** Materialize the row-level changefeed into an append-only CDC LOG at
    * `logDir` — one `commit-<v>` directory per store version, each holding
    * that commit's [[changesBetween]] rows plus a `commit_version` column
    * (`commit-0` is the bootstrap: every v0 row as `added`). This is the
    * outbox pattern that turns the store into a STREAMING SOURCE with
    * nothing but public Spark APIs: downstream pipelines consume the log
    * with the battle-tested file stream source ([[changeLogStream]]) and
    * get incremental, exactly-once delivery from its checkpointed file
    * tracking — no custom Source implementation to trust.
    *
    * Exactly-once is BY CONSTRUCTION, crash-safe, and multi-emitter-safe:
    * the log itself is the cursor (a version is emitted iff its
    * `commit-<v>` dir exists), each emission stages privately under a
    * dot-prefixed dir (invisible to Spark's file listings) and publishes
    * by one atomic rename, a lost publish race is benign (the winner
    * wrote the same deterministic content), and a crashed staging attempt
    * is TTL-swept on the next call. Cost per append commit is
    * delta-scan-only (O(changed rows) — the [[changesBetween]] fast
    * path); a rewrite commit pays its one classification join. Catch-up
    * after N commits is N such jobs, independent of corpus size.
    *
    * Fails loudly (never an incomplete log) if an unemitted version's
    * feed is no longer resolvable — vacuum outran emission and the
    * consumer must re-bootstrap; run `emitChanges` at least as often as
    * `vacuum` to keep the log gapless. Returns the versions emitted.
    *
    * BULK CATCH-UP runs `parallelism` emissions concurrently (default 4):
    * emissions of distinct versions are fully independent — each version's
    * content is a deterministic pure function of the store's manifests,
    * each stages under its own private dot-dir, and publication is one
    * atomic rename that already tolerates concurrent emitters of the SAME
    * version — so a consumer onboarding onto a long unemitted history
    * pays ~N/parallelism sequential jobs instead of N. The steady state
    * (one new commit per call) is unaffected: a single-element todo never
    * touches the pool. Spark schedules the concurrent write jobs from
    * their own threads; per-job work is unchanged.
    *
    * BRANCH CONTRACT: on a [[cloneTo]] clone this emits a NEW CDC lineage
    * — `commit-0` is the clone's full-state bootstrap (every v0 row as
    * `added`), not a reference to the source's log. A branch is a new
    * stream: its consumers must not need the source log's retention to
    * outlive the branch, and the source's consumers must never see branch
    * commits. Followers of the source that switch to a branch re-bootstrap
    * from the branch's own `commit-0` (pinned by MemoEngineSpec). */
  def emitChanges(logDir: String, parallelism: Int = 4): Seq[Long] = {
    val cur = currentVersion.getOrElse(
      throw new IllegalArgumentException(s"no store at $basePath"))
    val log = Paths.get(logDir)
    Files.createDirectories(log)
    // TTL-sweep crashed staging attempts (same clock discipline as vacuum)
    listDir(log).filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(".emit-"))
      .filter(newestMtime(_) <
        System.currentTimeMillis() - MemoEngine.DefaultStagingTtlMs)
      .foreach(deleteTree)
    val done = listDir(log)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("commit-\\d+"))
      .map(_.getFileName.toString.drop(7).toLong).toSet
    // a pruned prefix ([[pruneChangeLog]]) must never be re-emitted —
    // the retention decision would silently un-happen on the next call
    val todo = (earliestChange(logDir) to cur).filterNot(done.contains)
    // Stage version v's feed under a private dot-dir; returns the staged
    // data dir, ready for the publishing rename.
    def stageOne(v: Long): (Path, Path) = {
      val feed =
        (if (v == 0)
          recordsAt(0).select(col("id"), lit("added").as("change"),
            col("body"), col("metadata"))
        else changesBetween(v - 1, v))
          .withColumn("commit_version", lit(v))
      val staging = Files.createTempDirectory(log, ".emit-")
      val staged = staging.resolve("data")
      try feed.write.mode("overwrite").parquet(staged.toString)
      catch { case e: Throwable => deleteTree(staging); throw e }
      (staging, staged)
    }
    def publishOne(v: Long, staging: Path, staged: Path): Unit =
      try {
        try Files.move(staged, log.resolve(s"commit-$v"),
          StandardCopyOption.ATOMIC_MOVE)
        catch { // a concurrent emitter published identical content first.
          // Linux surfaces that race as FileSystemException
          // (DirectoryNotEmptyException: the target dir exists non-empty),
          // not FileAlreadyExistsException — accept it ONLY when the
          // commit dir is verifiably there; anything else is a real
          // filesystem failure and must stay loud.
          case _: java.nio.file.FileAlreadyExistsException => ()
          case _: java.nio.file.FileSystemException
              if Files.isDirectory(log.resolve(s"commit-$v")) => ()
        }
      } finally deleteTree(staging)
    if (todo.size <= 1 || parallelism <= 1)
      todo.foreach { v =>
        val (staging, staged) = stageOne(v); publishOne(v, staging, staged)
      }
    else {
      // Parallelize the EXPENSIVE half (each version's Spark write job)
      // but publish the cheap renames SEQUENTIALLY in ascending version
      // order — a concurrently tailing consumer must only ever observe a
      // PREFIX of the log (commit-6 appearing before commit-5 exists
      // would let a follower apply changes out of order). A failed
      // staging therefore also stops publication at the gap: versions
      // above it stay staged-and-swept rather than published over a hole.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, todo.size))
      val staged = new java.util.concurrent.ConcurrentHashMap[Long,
        Either[Throwable, (Path, Path)]]()
      try {
        pool.invokeAll(
          todo.map(v => new java.util.concurrent.Callable[Unit] {
            def call(): Unit = staged.put(v,
              try Right(stageOne(v))
              catch { case scala.util.control.NonFatal(e) => Left(e) })
          }).asJava).asScala.foreach(_.get())
        todo.foreach { v =>
          staged.remove(v) match {
            case Right((stg, dat)) => publishOne(v, stg, dat)
            case Left(e) => throw e
          }
        }
      } finally {
        pool.shutdown()
        staged.values().asScala.foreach {
          case Right((stg, _)) => deleteTree(stg)
          case _ => ()
        }
      }
    }
    todo
  }

  /** The CDC log at `logDir` as an UNBOUNDED streaming DataFrame (schema
    * [[MemoEngine.ChangeLogSchema]]) — plain `readStream` over the
    * emitted `commit-*` dirs, so every file-source lever (triggers,
    * maxFilesPerTrigger, checkpointed exactly-once) applies unchanged.
    * Pair with [[emitChanges]] on the producer side. */
  def changeLogStream(logDir: String): DataFrame =
    spark.readStream.schema(MemoEngine.ChangeLogSchema)
      .parquet(s"$logDir/commit-*")

  /** MERGE one changefeed batch into THIS store — the consumer half of
    * log-shipping replication: `added`/`updated` upsert BY ID (the
    * source's ids are preserved — a follower is apply-only; mixing local
    * id-minting saves with applied changes would collide id spaces),
    * `removed` deletes. A batch spanning several source commits is
    * collapsed to the last change per id first (`commit_version` order),
    * so add→update→remove chains apply as their net effect. The index
    * updates INCREMENTALLY through the standard commit path: untouched
    * ids keep their embeddings, only upserted bodies embed.
    *
    * Idempotent at two levels: a replayed `(lineage, batchId)` is
    * version-watermark-skipped exactly like [[streamAppend]]'s
    * micro-batches, and even a replay under a DIFFERENT lineage (a
    * follower rebuilt with a fresh checkpoint) converges — the merge is
    * content-idempotent, so re-applying an old batch leaves the records
    * byte-identical.
    *
    * SCALE SHAPE: a batch of pure `added` rows whose ids are all new to
    * this store — the steady state of replicating an append-mostly
    * leader — commits as an APPEND DELTA, O(batch) like [[streamAppend]].
    * The arm decision itself is O(batch) in that steady state: one
    * aggregation over the (cached) raw batch yields its remove count,
    * distinct-id count, and upsert id range — and when the ids are
    * already unique (every well-formed batch that does not fold an
    * update CHAIN into one trigger) the batch IS its own
    * last-change-per-id collapse, so the row_number window and its
    * id-shuffle are skipped outright. The DENSE-ID INVARIANT (the leader
    * mints ascending ids, a follower is apply-only and preserves them)
    * makes `min upsert id > this store's max id` a sound proof that no
    * upsert can collide — no join against the id chain at all. The max
    * id comes from the store's max-id memo ([[storeMaxId]]; any foreign
    * commit invalidates it), so a long-lived follower pays the one
    * column-pruned max(id) scan once and never again while it is the
    * only writer. Batches that fail the
    * watermark test fall back to the aggregated overlap probe; anything
    * with updates/removes (or a replayed add whose id already landed)
    * takes the full-outer MERGE rewrite, the same cost class as a Delta
    * MERGE touching most files.
    *
    * Returns whether the batch actually COMMITTED a new version — false
    * for a watermark-skipped replay or an empty batch — so callers with
    * a maintenance cadence ([[replicateFrom]]) count committed batches
    * only, the same committed-only contract [[streamSink]] documents. */
  def applyChanges(feed: DataFrame, batchId: Long = -1L,
      lineage: String = "cdc-apply"): Boolean = MemoEngine.retryOnConflict {
    if (batchId >= 0 && lastStreamMark.exists { case (l, b) =>
        l == lineage && b >= batchId })
      return false
    val v0 = currentVersion
    import org.apache.spark.sql.expressions.Window
    def armStats(df: DataFrame) =
      df.agg(count(lit(1)).as("n"),
        count_distinct(col("id")).as("ids"),
        sum(when(col("change") === "added", 0L).otherwise(1L))
          .as("non_added"),
        min(when(col("change") =!= "removed", col("id"))).as("min_up"),
        max(when(col("change") =!= "removed", col("id"))).as("max_up"))
        .collect()(0)
    val raw = feed.cache() // arm stats + (usually) the commit's two writes
    var windowed: DataFrame = null
    try {
      val mark = if (batchId >= 0) Some((lineage, batchId)) else None
      // One aggregation over the RAW feed materializes the cache and
      // yields everything the arm decision needs — row count, distinct
      // ids, remove count, upsert id range — INCLUDING whether the
      // last-change-per-id collapse is an identity: a batch whose ids
      // are already unique (the steady state — each commit touches an
      // id at most once, and pure-append commits never revisit one) IS
      // its own collapse, so the row_number window and its per-batch
      // id-shuffle are skipped entirely. Only a batch that revisits an
      // id (an update chain folded into one trigger) pays the window,
      // and its stats are recomputed post-collapse because per-id
      // history folding changes them.
      var stats = commitPhase("collapse") { armStats(raw) }
      val latest =
        if (stats.getLong(0) == stats.getLong(1)) raw
        else commitPhase("collapse") {
          windowed = raw
            .withColumn("_rn", row_number().over(
              Window.partitionBy(col("id"))
                .orderBy(col("commit_version").desc)))
            .filter(col("_rn") === 1).drop("_rn")
            .cache()
          stats = armStats(windowed)
          windowed
        }
      val upserts = latest.filter(col("change") =!= "removed")
        .select(col("id"), col("body"), col("metadata"))
      if (stats.getLong(0) == 0L) return false // empty batch: no commit
      val nNonAdded = stats.getLong(2)
      val minUp = if (stats.isNullAt(3)) Long.MaxValue else stats.getLong(3)
      val maxUp = if (stats.isNullAt(4)) Long.MinValue else stats.getLong(4)
      // the feed's own change labels pre-decide the arm: an `updated` or
      // `removed` row by definition names an existing id, so only an
      // all-`added` batch can be adds-only — update/remove batches go
      // straight to the merge arm without paying the id-chain probe (or
      // even the max-id priming scan) the watermark test would cost
      val priorMax =
        v0.filter(_ => nNonAdded == 0L).map(storeMaxId(_, probe = true))
      val addsOnly = priorMax.exists(m => minUp > m || commitPhase("probe") {
        upserts.join(records.select("id"), Seq("id"), "left_semi").isEmpty
      })
      commitPhase("commit") {
        // arm stats already counted the batch and `upserts` derives from
        // the pinned feed cache — the append arm's three-leg parallel
        // commit (embed spread + stats-from-frame) applies as in
        // streamIngest
        val nv = upsert(v0, upserts, latest.select("id"), addsOnly, mark,
          Some(stats.getLong(0)))
        // only an append knows its max: a merge's removes can lower it
        if (addsOnly) noteMaxId(nv, math.max(priorMax.get, maxUp))
      }
      true
    } finally {
      raw.unpersist()
      if (windowed != null) windowed.unpersist()
    }
  }

  /** SEGMENT-PRUNED merge — the Delta file-pruned-MERGE cost class for
    * the CDC rewrite arm and [[save]]'s overwrite arm (which also
    * carries the CLI's soft-delete shape: a delete is a metadata
    * overwrite). Dense ascending id minting keeps live
    * segments' id SETS disjoint, and every segment written since the
    * `_idrange` sidecar landed records its [min,max]; a batch of
    * updates/removes therefore rewrites ONLY the segments whose range
    * intersects a batch id (plus one new segment holding the survivors
    * and the batch's upserts), while every other segment — including the
    * bulk base snapshot — is carried into the new manifest BY REFERENCE.
    * An update batch touching k recent rows against a 100-TB chain costs
    * O(segments containing those rows), not O(corpus).
    *
    * The index is patched with the SAME scope: the touched segments'
    * index rows (positionally paired with the records manifest) minus
    * the batch's ids, plus fresh embeddings for the non-blank upserts —
    * untouched index segments ride along by reference, so no unchanged
    * row re-embeds and no unchanged embedding rewrites.
    *
    * Returns the published version, or None — [[upsert]] falls back to
    * the full-rewrite commit — when
    * the pruning can't be proven or wouldn't pay: a segment without a
    * range sidecar (pre-sidecar store), records/index manifests that
    * don't pair positionally, every segment touched anyway, or a chain
    * at the maxSegments fold point (the full rewrite doubles as the
    * compaction, same as [[commitAppend]]'s fold). A patch segment
    * records its id set as MULTI-INTERVALS (the touched segments'
    * intervals plus the batch's range, coalesced and capped at 8), so
    * folding non-adjacent segments does not swallow the gap between
    * them; the test stays over-approximate — sound, at worst an extra
    * segment rewritten. */
  private def patchMerge(prior: Long, batchIds: DataFrame, upserts: DataFrame,
      mark: Option[(String, Long)]): Option[Long] = {
    val segsR = segments(prior, "records")
    val segsI = segments(prior, "index")
    if (segsR.size != segsI.size || segsR.size <= 1) return None
    if (segsR.size >= maxSegments) return None // fold via full rewrite
    val ranges = segsR.map(readIdRanges)
    if (ranges.exists(_.isEmpty)) return None
    val segRanges = ranges.map(_.get)
    def inSeg(rs: Seq[(Long, Long)]) =
      if (rs.isEmpty) lit(false)
      else rs.map { case (lo, hi) => col("id").between(lo, hi) }
        .reduce(_ || _)
    // one small aggregation over the batch ids: per-segment touch counts
    // (≤ maxSegments interval-test sum columns) + the range of the
    // batch's NEW ids (outside every segment's intervals — any other
    // batch id makes its segment touched), needed for the patch sidecar
    val isNew = !inSeg(segRanges.flatten)
    val touchRow = batchIds.agg(
      min(when(isNew, col("id"))).as("_nlo"),
      (max(when(isNew, col("id"))).as("_nhi") +:
        segRanges.zipWithIndex.map { case (rs, i) =>
          sum(when(inSeg(rs), 1L).otherwise(0L)).as(s"_t$i")
        }): _*).collect()(0)
    val touched = segRanges.indices.filter(i => touchRow.getLong(i + 2) > 0L)
    if (touched.isEmpty || touched.size == segsR.size) return None
    val touchedSet = touched.toSet
    val keep = segsR.indices.filterNot(touchedSet.contains)
    // the patch segment's id set ⊆ (touched segments' intervals) ∪ (the
    // batch's NEW ids) — record that union, coalesced and capped. The
    // new-id range (not the whole batch's) matters: a batch updating two
    // far-apart segments must not bridge the gap between them, or the
    // untouched segments in between would false-positive forever after
    val patchRanges = mergeRanges(touched.flatMap(segRanges) ++
      (if (touchRow.isNullAt(0)) Nil
       else Seq((touchRow.getLong(0), touchRow.getLong(1)))))
    val oldTouched = readSegments("records", touched.map(segsR))
      .cache() // read by the survivors write AND the feed materialization
    try Some(publishVersion(Some(prior), mark) { (staging, v) =>
      oldTouched
        .join(batchIds, Seq("id"), "left_anti")
        .unionByName(upserts)
        .write.mode("overwrite")
        .parquet(staging.resolve("records").toString)
      writeIdRanges(staging.resolve("records"), patchRanges)
      // materialize THIS COMMIT'S changefeed while the patch scope is in
      // hand: rows outside the touched segments are untouched by
      // construction, so diffing old-touched vs the just-written patch
      // rows equals the full-snapshot classification join — at O(touched)
      // instead of O(corpus). [[changesBetween]] single-step windows (and
      // therefore [[emitChanges]]) read it directly with the narrower
      // public schema; the persisted shape additionally carries the
      // FROM-side prev_body/prev_metadata (free here — the old rows are
      // already cached) so retractable consumers ([[viewState]]) can
      // subtract old contributions without re-reading the base snapshot.
      // The `_prev` marker is the feature gate: a feed dir without it
      // predates the extension and retractable readers must not trust it.
      // `materializeFeeds = false` is the write-heavy / no-consumer
      // escape hatch (the sidecar costs ~0.5-1.5 s per patch commit,
      // BENCH_NOTES r13): consumers then fall back to their honest
      // paths — changesBetween to the classification join, viewState
      // to the captured-version rebuild. Spec-pinned.
      if (materializeFeeds) {
        MemoOps.changeFeedWithPrev(oldTouched,
          readSegments("records", Seq(staging.resolve("records").toString)))
          .write.mode("overwrite")
          .parquet(staging.resolve("changefeed").toString)
        Files.write(staging.resolve("changefeed").resolve("_prev"),
          Array.emptyByteArray)
      }
      readSegments("index", touched.map(segsI))
        .join(batchIds, Seq("id"), "left_anti")
        .unionByName(upserts.filter(!isBlank(col("body")))
          .select(col("id"), embedText(col("body")).as("embedding")))
        .write.mode("overwrite")
        .parquet(staging.resolve("index").toString)
      (keep.map(segsR) :+ versionDir(v).resolve("records").toString,
        keep.map(segsI) :+ versionDir(v).resolve("index").toString)
    })
    finally oldTouched.unpersist()
  }

  /** First commit version still present in the CDC log at `logDir` —
    * 0 until [[pruneChangeLog]] raises it. A log whose earliest is > 0
    * no longer serves the full-state bootstrap: point NEW consumers at a
    * [[cloneTo]] of the store and have them tail from here. */
  def earliestChange(logDir: String): Long = {
    val p = Paths.get(logDir).resolve("_earliest")
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  /** The highest `keepFrom` that [[pruneChangeLog]] can take WITHOUT
    * retiring a commit some registered consumer still needs — computed
    * from the consumers' own streaming CHECKPOINTS, so the producer never
    * has to know follower progress by out-of-band arithmetic. Each
    * checkpoint dir is one [[replicateFrom]]/[[changeLogStream]]
    * consumer; the horizon is the min over consumers of the first commit
    * version that consumer has not durably finished.
    *
    * "Durably finished" is read from the file source's own public
    * checkpoint layout (no private Spark APIs — these files ARE the
    * documented recovery contract): `commits/<b>` names the last batch
    * whose outputs are committed, `offsets/<b>` records the file-source
    * `logOffset` that batch read through, and `sources/0/<i>` (i ≤ that
    * offset; `.compact` entries fold the full history) lists every data
    * file those batches consumed. A commit dir is finished iff ALL of its
    * data files appear in that processed set — a batch boundary that
    * split a commit's files (maxFilesPerTrigger) correctly holds the
    * horizon at that commit. Files named by PLANNED-but-uncommitted
    * batches are excluded: on restart the source re-reads them from its
    * metadata log, so pruning them would break recovery.
    *
    * A checkpoint that has not committed anything yet (or does not exist
    * yet — a consumer registered before first start) pins the horizon at
    * [[earliestChange]]: nothing can be pruned out from under it. */
  def safePruneHorizon(logDir: String, checkpointDirs: Seq[String]): Long = {
    require(checkpointDirs.nonEmpty,
      "safePruneHorizon needs at least one consumer checkpoint — with " +
      "none registered there is no one to protect and no safe answer")
    val log = Paths.get(logDir)
    val emitted =
      (if (Files.isDirectory(log)) listDir(log) else Seq.empty).collect {
        case p if Files.isDirectory(p) &&
            p.getFileName.toString.matches("commit-\\d+") =>
          p.getFileName.toString.drop(7).toLong
      }.sorted
    def horizonOf(ckptDir: String): Long = {
      val ckpt = Paths.get(ckptDir)
      val commits = ckpt.resolve("commits")
      val lastCommitted: Option[Long] =
        if (!Files.isDirectory(commits)) None
        else listDir(commits).map(_.getFileName.toString)
          .filter(_.matches("\\d+")).map(_.toLong).maxOption
      lastCommitted match {
        case None => earliestChange(logDir) // nothing durable yet
        case Some(b) =>
          // offsets/<b> → the file-source logOffset batch b read through
          val off = Files.readString(ckpt.resolve("offsets").resolve(b.toString))
          val logOffset = "\"logOffset\"\\s*:\\s*(\\d+)".r
            .findFirstMatchIn(off).map(_.group(1).toLong)
            .getOrElse(throw new IllegalStateException(
              s"checkpoint $ckptDir offsets/$b has no file-source " +
              s"logOffset — not a file-stream consumer of this log?"))
          // sources/0/<i> for i ≤ logOffset = every data file durably
          // processed (a `.compact` entry folds all prior history, so
          // reading every retained index ≤ logOffset is sufficient even
          // after compaction has reclaimed early plain entries)
          val srcLog = ckpt.resolve("sources").resolve("0")
          val pathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
          val srcEntries =
            if (Files.isDirectory(srcLog)) listDir(srcLog) else Seq.empty
          val processed = srcEntries.flatMap { p =>
            val n = p.getFileName.toString
            val idx = n.stripSuffix(".compact")
            if (!idx.matches("\\d+") || idx.toLong > logOffset) Nil
            else pathRe.findAllMatchIn(Files.readString(p))
              .map(m => Paths.get(java.net.URI.create(m.group(1)).getPath)
                .toAbsolutePath.normalize.toString).toSeq
          }.toSet
          emitted.find { v =>
            // a commit dir that vanished since the `emitted` listing was
            // retired by a CONCURRENT pruner — a prior safe horizon
            // already proved every consumer past it, so it reads as
            // finished (empty file set) rather than crashing the scan
            val dataFiles =
              (try listDir(log.resolve(s"commit-$v"))
              catch { case _: java.nio.file.NoSuchFileException => Nil })
                .filter(f => Files.isRegularFile(f) &&
                  !f.getFileName.toString.startsWith("_") &&
                  !f.getFileName.toString.startsWith("."))
                .map(_.toAbsolutePath.normalize.toString)
            !dataFiles.forall(processed.contains)
          }.getOrElse(emitted.lastOption.map(_ + 1)
            .getOrElse(earliestChange(logDir)))
      }
    }
    checkpointDirs.map(horizonOf).min
  }

  /** [[pruneChangeLog]] with the horizon DERIVED from the registered
    * consumers' checkpoints instead of trusted from the caller — through
    * this API, retiring a commit a registered consumer still needs is
    * impossible by construction. Returns (keepFrom used, dirs removed). */
  def pruneChangeLogSafe(logDir: String,
      checkpointDirs: Seq[String]): (Long, Int) = {
    val h = safePruneHorizon(logDir, checkpointDirs)
    (h, pruneChangeLog(logDir, h))
  }

  /** Retire emitted commits below `keepFrom` from the CDC log — the
    * retention half of the outbox lifecycle (without it the log IS the
    * unbounded storage cost at 100 TB). Crash-safe order: the
    * `_earliest` marker advances FIRST (atomic tmp+rename), then the
    * retired `commit-<v>` dirs die — a crash in between leaves dirs
    * below the marker that consumers and [[emitChanges]] alike ignore,
    * and the next prune call reaps. Same contract as any log retention
    * (Kafka, bin-logs): prune only below every consumer's checkpointed
    * progress — a consumer that lags past the horizon fails loudly on
    * its next read, never silently skips. Returns dirs removed. */
  def pruneChangeLog(logDir: String, keepFrom: Long): Int = {
    require(keepFrom >= 0, s"keepFrom must be >= 0, got $keepFrom")
    val log = Paths.get(logDir)
    if (!Files.isDirectory(log)) {
      require(keepFrom == 0,
        s"keepFrom $keepFrom on a log that does not exist yet")
      return 0
    }
    // The marker must never outrun EMISSION: emitChanges starts its todo
    // at the marker, so advancing it past never-emitted versions would
    // silently skip them forever — the one way this log could develop an
    // invisible gap. Bound keepFrom by the furthest the log has actually
    // reached (live commit dirs, or the marker itself when a prior prune
    // retired everything).
    val maxEmitted = (listDir(log).collect {
      case p if Files.isDirectory(p) &&
          p.getFileName.toString.matches("commit-\\d+") =>
        p.getFileName.toString.drop(7).toLong
    } :+ (earliestChange(logDir) - 1)).max
    require(keepFrom <= maxEmitted + 1,
      s"keepFrom $keepFrom is beyond the log's emission frontier " +
      s"(max emitted commit is $maxEmitted): pruning unemitted versions " +
      s"would create a silent gap — run emitChanges first")
    if (keepFrom > earliestChange(logDir)) {
      val tmp = log.resolve("_earliest.tmp")
      Files.writeString(tmp, keepFrom.toString)
      Files.move(tmp, log.resolve("_earliest"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    val stale = listDir(log).filter { p =>
      val n = p.getFileName.toString
      Files.isDirectory(p) && n.matches("commit-\\d+") &&
        n.drop(7).toLong < keepFrom
    }
    stale.foreach(deleteTree)
    stale.size
  }

  /** Catch this store up to a CDC log — the one-call follower:
    * [[changeLogStream]] → `foreachBatch` → [[applyChanges]] under an
    * `AvailableNow` trigger, so each call drains everything emitted so
    * far and returns. Exactly-once rides the file source's checkpointed
    * tracking; the apply lineage is the CHECKPOINT location (the
    * `txnAppId` idiom — a rebuilt follower with a fresh checkpoint gets
    * fresh batch ids under a fresh lineage, and the content-idempotent
    * merge absorbs the replay). Call after each producer-side
    * [[emitChanges]], or on a schedule. */
  def replicateFrom(logDir: String, checkpointDir: String,
      maintainEvery: Int = 0): Unit = {
    require(maintainEvery >= 0,
      s"maintainEvery must be >= 0 (0 = off), got $maintainEvery")
    var applied = 0L
    val q = changeLogStream(logDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val committed = applyChanges(batch, batchId, lineage = checkpointDir)
        // amortized follower maintenance ([[streamSink]]'s cadence): the
        // walk runs AFTER the batch's idempotent merge, so exactly-once
        // apply semantics are untouched and a crash mid-walk just leaves
        // families behind for the next trigger. COMMITTED batches only
        // (streamSink's documented contract): a checkpoint replay or an
        // all-blank batch must not advance the cadence, or a restart
        // fires maintain() off-cadence on no-op batches
        if (maintainEvery > 0 && committed) {
          applied += 1
          if (applied % maintainEvery == 0) { maintain(); () }
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Garbage-collect version directories not reachable from the RETAINED
    * versions' manifests (superseded snapshots and compacted-away deltas).
    * `retainVersions` = how many of the newest committed versions stay
    * time-travel-readable (default 1 = live only, the minimal-storage
    * setting; see the time-travel section above [[versions]]).
    * Safe any time: it runs under the commit lock, so it cannot observe
    * (or gut) a version mid-publication — the live version and every
    * segment dir it references are kept, and the CURRENT pointer is
    * untouched. Returns the number of version dirs removed (crashed
    * staging attempts whose NEWEST file is older than `stagingTtlMs` are
    * also swept, uncounted — newest-in-tree, because an in-flight parquet
    * write keeps deep files fresh while the staging dir's own mtime
    * stagnates). Run after compactions/overwrites to reclaim space —
    * without it, storage grows O(versions × corpus). `protectViews`
    * additionally retains every version from the oldest registered
    * view's watermark forward, so behind views keep their O(delta)
    * catch-up path instead of falling back to an O(corpus) rebuild.
    *
    * TTL ASSUMPTION: a live writer touches its staging tree at least once
    * per `stagingTtlMs` (the default hour is generous for any real
    * parquet write); a writer stalled longer than that looks like a
    * corpse and can be swept mid-commit — it then fails its publish and
    * retries. The cutoff is derived from the FILESYSTEM's clock (a
    * just-touched probe file's mtime), not the caller's wall clock, so
    * clock skew between vacuum's host and the shared filesystem can
    * never eat into a live writer's TTL budget.
    *
    * After the version pass, every grid-sharded artifact (each registered
    * view's state and the dup labeling) runs its [[ShardedArtifact.sweep]]
    * against its live pointer, under that artifact's build lock and
    * outside the commit lock, once that pointer has aged past the TTL: a
    * publish sweeps only when it runs, so an artifact that stops folding
    * would otherwise keep its superseded shards and retired generations
    * for good. That sweep keeps its own TTL (the staging default),
    * whatever `stagingTtlMs` says. */
  def vacuum(stagingTtlMs: Long = MemoEngine.DefaultStagingTtlMs,
      retainVersions: Int = 1, protectViews: Boolean = false): Int = {
    val reclaimed = MemoEngine.withCommitLock(base) {
      if (Files.isDirectory(stagingRoot)) {
        // "now" in the same clock newestMtime reads — see TTL ASSUMPTION
        val probe = stagingRoot.resolve(".vacuum_probe")
        Files.writeString(probe, "")
        val fsNow = Files.getLastModifiedTime(probe).toMillis
        Files.deleteIfExists(probe)
        val cutoff = fsNow - stagingTtlMs
        listDir(stagingRoot).filter(newestMtime(_) < cutoff).foreach(deleteTree)
      }
      currentVersion match {
        case None => 0
        case Some(v) =>
          // Retained = the newest `retainVersions` committed version dirs
          // (always including live). Liveness is the UNION of their
          // manifests, so a retained append version keeps every prior dir
          // it references resolvable — [[recordsAt]] on anything retained
          // can never hit a reclaimed segment.
          val committed = listDir(base)
            .filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.matches("v\\d+"))
            .map(_.getFileName.toString.drop(1).toLong)
            .filter(_ < v).sorted
          // a view at watermark w catches up by walking (w, live], so it
          // needs every version dir in that range resolvable. protectViews
          // extends retention down to the OLDEST recorded watermark — the
          // view-family analog of pruneChangeLogSafe: an aggressive vacuum
          // can't silently convert a behind view's O(delta) catch-up into
          // an O(corpus) rebuild. (Without it the view still converges —
          // through the honest rebuild arm.)
          val viewFloor =
            if (!protectViews) None
            else views.flatMap(n =>
              ArtifactMeta.read(spark, viewDir(n).toString, ViewMetaFile)
                .flatMap(_.split('|').headOption.flatMap(_.toLongOption)))
              .minOption
          val retained =
            (committed.takeRight(math.max(1, retainVersions) - 1) ++
              viewFloor.map(f => committed.filter(_ >= f)).getOrElse(Nil))
              .distinct :+ v
          val live = retained.flatMap(r =>
              segments(r, "records") ++ segments(r, "index"))
            .map(p => Paths.get(p).getParent.getFileName.toString)
            .toSet ++ retained.map(r => s"v$r")
          val stale = listDir(base)
            .filter(p => Files.isDirectory(p) &&
              p.getFileName.toString.matches("v\\d+") &&
              !live.contains(p.getFileName.toString))
          stale.foreach(deleteTree)
          stale.size
      }
    }
    views.foreach { n =>
      val dir = viewDir(n).toString
      ArtifactMeta.withBuildLock(spark, dir) {
        ArtifactMeta.read(spark, dir, ViewMetaFile).map(_.split('|'))
          .collect { case Array(_, _, st) => viewShards(n).sweep(Seq(st),
            Some(viewDir(n).resolve(ViewMetaFile))) }
      }
    }
    if (Files.isDirectory(Paths.get(dupDir)))
      ArtifactMeta.withBuildLock(spark, dupDir) {
        ArtifactMeta.read(spark, dupDir, DupLabelsPtr)
          .foreach(ptr => dupShards.sweep(Seq(ptr),
            Some(Paths.get(dupDir, DupLabelsPtr))))
      }
    reclaimed
  }

  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** Newest mtime anywhere in `root`'s tree; an entry that vanishes or
    * errors mid-walk means someone is actively working in it — report
    * "fresh" so the sweep leaves it alone. */
  private def newestMtime(root: Path): Long =
    try {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .map(p => Files.getLastModifiedTime(p).toMillis)
        .foldLeft(0L)(math.max)
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  /** Drop the database (memo_cli.py:308-331). True if anything existed.
    *
    * DESTRUCTIVE ADMIN OP — outside the optimistic-concurrency protocol:
    * dropping a store out from under active writers is undefined (their
    * version tokens are meaningless against a store rebuilt from scratch,
    * the ABA case), exactly as deleting the reference CLI's files under a
    * running process would be. Quiesce writers first. */
  def clean(): Boolean = {
    if (!Files.exists(base)) return false
    val existed = exists
    deleteTree(base)
    existed
  }

  /** Import a full DB YAML (replaces the store), export the live table.
    * The String forms are CLI-batch-sized conveniences; the path forms are
    * the scale path — file(s) parsed/rendered entirely on executors, no
    * corpus-sized String on the driver (reference S1/S2 file scan,
    * memo_cli.py:66-128). */
  def importYaml(text: String): Long = {
    val df = YamlIO.importTable(spark, text)
    MemoEngine.retryOnConflict { commit(df, currentVersion) }
  }
  def exportYaml(maxRows: Long = YamlIO.DriverExportMaxRows): String =
    YamlIO.exportTable(records, maxRows)
  def importYamlPath(path: String): Long = {
    val df = try YamlIO.importPath(spark, path)
             catch { case e: Exception => throw YamlIO.asUserError(e) }
    try MemoEngine.retryOnConflict { commit(df, currentVersion) }
    finally df.unpersist()
  }
  /** `atVersion` exports a retained historical version instead of the live
    * table — the "materialize the exact dataset release X trained on"
    * path; fails loudly past retention ([[recordsAt]]). */
  def exportYamlPath(path: String, shards: Int = 0,
      atVersion: Option[Long] = None): Unit =
    YamlIO.exportPath(atVersion.fold(records)(recordsAt), path, shards)

  /** JSONL interchange (training-data format) — distributed both ways. */
  def importJsonlPath(path: String): Long = {
    val df = try JsonlIO.importPath(spark, path)
             catch { case e: Exception => throw YamlIO.asUserError(e) }
    try MemoEngine.retryOnConflict { commit(df, currentVersion) }
    finally df.unpersist()
  }
  def exportJsonlPath(path: String, shards: Int = 0,
      atVersion: Option[Long] = None): Unit =
    JsonlIO.exportPath(atVersion.fold(records)(recordsAt), path, shards)
}

object MemoEngine {
  /** Process-wide scan-plan memo (see the instance [[MemoEngine.scanOf]]
    * scaladoc): (session UUID, store path, CURRENT mtime, version, kind)
    * → the resolved parquet relation. Logical plans only — never data. */
  private val scanMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String, Long, String), DataFrame]()

  /** Daemon pool for overlapping independent legs of one call: the
    * segment writes of a commit attempt (the index embed and the records
    * write share no data dependency — each is its own Spark job, and the
    * scheduler back-fills executor slots freed by the other's tail) and
    * the three artifact-family walks of [[MemoEngine.maintain]]. Cached,
    * not fixed: each caller parks at most its legs here, and an idle
    * pool holds no threads. */
  private lazy val commitPool =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-commit-write")
      t.setDaemon(true)
      t
    })

  /** Run `first` on the calling thread and every leg of `rest` on
    * [[commitPool]], and wait for ALL of them before returning (a leg
    * must never outlive the call — a commit's `finally
    * deleteTree(staging)` would race an in-flight write). Each pooled
    * leg runs under the caller's Spark thread-locals, captured at submit
    * time: local properties (job group, description, scheduler pool),
    * the active session and its SQL conf. A cached pool thread would
    * otherwise keep the properties of whichever caller first spawned
    * it, filing this call's jobs under a stale job group. On failure
    * every leg is drained first, then the first failure in leg order is
    * rethrown unwrapped (a commit's retry/reclassify matches on the
    * cause). Returns the legs' results in leg order. */
  private[memo] def legs[A](spark: SparkSession)(first: () => A,
      rest: (() => A)*): Seq[A] = {
    val session =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val pooled = rest.map(leg => org.apache.spark.sql.execution.SQLExecution
      .withThreadLocalCaptured(session, commitPool)(leg()))
    var failure: Throwable = null
    def drain(leg: => A): Option[A] =
      try Some(leg)
      catch { case t: Throwable =>
        if (failure == null) failure = t
        None
      }
    val outs = drain(first()) +: pooled.map(f => drain(
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }))
    if (failure != null) throw failure
    outs.flatten
  }

  /** Target body bytes per mint-sort partition (streamIngest): the sort
    * width is `batchBytes / this + 1`, capped at the session shuffle
    * width — so a KB-scale micro-batch sorts in one task (no
    * range-sampling job, no fan-out exchange) while a bulk batch spreads
    * into ~128 MB partitions, which is also the written segment's file
    * size class (guide §6: 128 MB–1 GB output files). */
  val MintBytesPerPart: Long = 128L * 1024 * 1024

  /** Rows per task for the index EMBED write (streamIngest commits): the
    * embed is CPU-dense (384-dim signed-hash + normalize + array encode
    * per row), so a partition sized for I/O starves cores — a 128 MB
    * mint partition of small bodies is minutes of single-task embed —
    * while this many rows is a few hundred ms of embed per task: big
    * enough to amortize task dispatch, small enough that a micro-batch
    * still fans out. Row-count-based, not core-count-based — the same
    * sizing holds on any cluster. */
  val EmbedRowsPerTask: Long = 4096L

  /** Append-chain length that triggers compaction back to one snapshot —
    * bounds the scan fan-in (number of parquet dirs a read unions). */
  val DefaultMaxSegments = 64

  /** Cost-route floor for the maintenance retract arms: a store with
    * fewer than this many ids rebuilds its artifacts instead of paying
    * the retract fold's fixed job count (classification + per-family
    * tombstone/journal writes), which below this scale costs more wall
    * time than the O(corpus) rebuild it avoids. Calibrated from the
    * retract-walk tables in BENCH_NOTES r19 and r20: after the r19 trims
    * (shared classified diff, no per-family probe jobs, the fold's
    * edge set materialized once) a 10-delete fold costs ~3.7-4.4 s FLAT
    * across 9k→90k docs on a 32-thread local box while the rebuild
    * grows 5.6→10.2 s — the fold ties the rebuild by ~9k docs, so the
    * floor sits at 2^13. At cluster scale the fold only gets relatively
    * cheaper (rebuild cost grows with data, the fold's job count
    * doesn't), so a floor erring low degrades gracefully — and an
    * 8k-doc rebuild is trivial everywhere. RetractRouteFloorSpec pins
    * the premise per family: a fold's job count does not grow with the
    * corpus. Test seam: engines set `retractRouteMinRows = 0` to force
    * the fold on tiny fixtures. */
  val DefaultRetractRouteMinRows = 8192L

  /** The index segments' at-rest schema — needed to read a pruned
    * subset that may be all-empty dirs (schema inference has no footer
    * to see there). Element nullability is relaxed vs the writer's
    * (parquet accepts a required column read as optional). */
  val IndexSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType), nullable = true)))

  /** The at-rest schema of a committed segment of `kind`. */
  private def segmentSchema(kind: String): org.apache.spark.sql.types.StructType =
    kind match {
      case "records" => YamlIO.recordSchema
      case "index" => IndexSchema
    }

  /** Default cell count for the engine-maintained IVF artifact
    * ([[MemoEngine.annRecall]]); clamped to the corpus size on rebuild
    * so tiny stores still train. */
  val AnnNlist = 16

  /** PQ geometry of the engine-maintained ANN artifact's codes
    * ([[MemoEngine.pqRecall]]): m sub-quantizers over the 384-dim hash
    * embedding, ksub centroids each (one code byte per subspace); ksub
    * clamps to the corpus size on rebuild so tiny stores still train. */
  val AnnPqM = 8
  val AnnPqKsub = 16

  /** Staging dirs older than this are crash corpses, reclaimable by
    * [[MemoEngine.vacuum]] — generous so a slow in-flight writer (a big
    * import's parquet write) is never swept mid-commit. */
  val DefaultStagingTtlMs: Long = 60L * 60 * 1000

  /** The [[MemoEngine.viewState]] measure aggregators: SUM retracts by
    * negation, MIN/MAX through the per-group reserve with a group-scoped
    * rescan only when a reserve is exhausted. Anything outside this set
    * is rejected at the API boundary — better loud than a view silently
    * served stale. */
  val ViewAggs: Set[String] = Set("sum", "min", "max", "avg", "count",
    "count_distinct")

  /** [[MemoEngine.viewState]]'s PERCENTILE measure aggregators —
    * "median" or "pNN" (NN = 1..99): the percent of an exact
    * percentile_disc (SQL-standard inverse distribution: the smallest
    * value whose cumulative distribution reaches NN/100 — what DuckDB's
    * `percentile_disc`/`quantile_disc` computes), None for every other
    * aggregator name. Maintained through the COUNT DISTINCT
    * dictionary-reserve idiom: the bounded value→multiplicity dict IS
    * an exact weighted histogram, so the scalar is a sorted cumulative
    * walk over it — retractable at O(delta) under the cap, group-scoped
    * rescan past it. */
  private[graft] def percentileOf(a: String): Option[Int] = a match {
    case "median" => Some(50)
    case s if s.length >= 2 && s.length <= 3 && s.charAt(0) == 'p' &&
        s.drop(1).forall(_.isDigit) && s.charAt(1) != '0' =>
      Some(s.drop(1).toInt)
    case _ => None
  }

  /** A measure aggregator that stores the `_dict_` histogram state —
    * COUNT DISTINCT and the percentile family share the machinery. */
  private[memo] def dictBacked(a: String): Boolean =
    a == "count_distinct" || percentileOf(a).isDefined

  /** [[recallServe]]'s compressed-arm threshold: once the candidate
    * rows' raw vectors (rows × dim × 4 B) exceed this, the probe serves
    * IVF-PQ instead of plain IVF — 256 MiB ≈ one executor's comfortable
    * scan budget; the PQ codes for the same rows are ~32× smaller. An
    * UNKNOWABLE row bound (a store without stats sidecars) also takes
    * the compressed arm: pricing blind, assume big. */
  val DefaultServePqBytes: Long = 256L << 20

  /** Bound-aware initial probe width for the SERVE front doors'
    * filtered widening ladders: under a uniform-cell model, np probed
    * cells hold ≈ survivors × np / nlist mask survivors, so asking for
    * ≥ 2k expected fills (safety factor 2) means np ≥ 2k·nlist/
    * survivors — the common selective case then fills in ONE pass
    * instead of paying log₂(nlist) widening rungs of pure job overhead
    * (the r15 lesson: job COUNT, not data volume, dominates serving
    * latency). Callers clamp to [caller's nprobe, nlist]; the ladder
    * still guarantees exact fill when the model misses, so this is a
    * cost heuristic, never a correctness knob. Only the front doors
    * apply it — the explicit annRecall/pqRecall arms obey the caller's
    * nprobe so their widening seams and oracle builds stay exact. */
  def adaptiveNprobe(k: Int, nlist: Int, survivors: Long): Int =
    ((2L * k * nlist + survivors - 1) / survivors).toInt

  /** Default MIN/MAX reserve depth: a champion retraction is O(delta)
    * until k of a group's top values are retracted without replacement —
    * only then does that group pay a rescan. Small enough that the state
    * stays a few longs per group, deep enough that champion churn
    * doesn't thrash. */
  val DefaultViewReserveK: Int = 8

  /** Per-group distinct-value dictionary bound for COUNT DISTINCT view
    * measures ([[MemoEngine.viewState]]): a group whose distinct
    * cardinality stays ≤ this keeps its exact value→count dictionary and
    * retracts in O(delta); past it the dictionary drops (the scalar
    * stays exact) and the group's next touching refresh rescans it.
    * An engine option (`viewDistinctCap`) — it participates in the view
    * spec identity, so changing it rebuilds. */
  val DefaultViewDistinctCap: Int = 64

  /** View-state shard sizing: a refresh publish targets at most this
    * many GROUPS per shard file, so rewriting one touched shard is
    * O(DefaultViewShardRows + delta) whatever the view's total group
    * count. 4096 groups × (a few longs + reserves) ≈ single-digit MB
    * parquet — small enough that a 1-row refresh stays cheap, large
    * enough that a dashboard view is one file. */
  val DefaultViewShardRows: Int = 4096

  /** The hash-cell resolution view-state shards are addressed in: a
    * group's CELL is the top [[ViewShardCellBits]] bits of its key's
    * xxhash64, a shard covers a cell interval, and the finest possible
    * shard is one cell — [[ViewShardCells]] caps the shard count. */
  val ViewShardCellBits: Int = 16
  val ViewShardCells: Int = 1 << ViewShardCellBits

  /** [[MemoEngine.compactView]]'s default trigger: compact once the
    * state holds more than this many times the ideal shard count for
    * its group total — loose enough that ordinary split-on-rewrite
    * never trips it (a freshly split region sits near 1), tight enough
    * that churn-then-shrink fragmentation (many near-empty fine shards)
    * does. */
  val DefaultViewCompactFrag: Double = 4.0

  /** Schema of the CDC log [[MemoEngine.emitChanges]] writes and
    * [[MemoEngine.changeLogStream]] reads: the [[changesBetween]] feed
    * plus the emitting commit's version. */
  val ChangeLogSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("change", StringType, nullable = false),
      StructField("body", StringType, nullable = true),
      StructField("metadata", MapType(StringType, StringType),
        nullable = true),
      StructField("commit_version", LongType, nullable = false)))
  }

  /** Schema of a PATCH commit's materialized per-commit changefeed
    * sidecar ([[ChangeLogSchema]] without the log-level commit_version —
    * the version is the directory it lives in). */
  val FeedSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(ChangeLogSchema.fields.init)

  /** [[FeedSchema]] plus the FROM-side row state
    * ([[MemoOps.changeFeedWithPrev]]) — what a feed dir carrying the
    * `_prev` marker actually persists. Readers that only need the public
    * feed keep reading with [[FeedSchema]]; parquet projects the extra
    * columns away. */
  val FeedWithPrevSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(FeedSchema.fields ++ Seq(
      StructField("prev_body", StringType, nullable = true),
      StructField("prev_metadata", MapType(StringType, StringType),
        nullable = true)))
  }

  /** Mutation attempts before an optimistic-concurrency loser gives up —
    * each retry re-runs the full mutation from the new live version, so
    * this bounds work under sustained contention, not correctness. */
  val DefaultCommitAttempts = 5

  /** A commit lost the optimistic race: the live version moved between the
    * mutation reading its state and publishing its result. The store is
    * untouched by the loser; re-run the mutation from fresh state (the
    * engine's public mutations do so automatically via
    * [[retryOnConflict]]). */
  final class ConcurrentCommitException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** Serialize the publish step of a commit: JVM mutex (threads) + OS file
    * lock on `COMMIT_LOCK` (other processes on a shared filesystem; the OS
    * releases it if the holder dies, so a crashed committer can never
    * wedge the store the way a lock FILE would). Shared machinery:
    * [[graft.PathLocks]]. */
  private[memo] def withCommitLock[T](base: Path)(f: => T): T = {
    Files.createDirectories(base)
    graft.PathLocks.exclusive(base.toAbsolutePath.normalize.toString,
      Some(base.resolve("COMMIT_LOCK")))(f)
  }

  /** Run `body` (a full mutation: read live state → derive → commit),
    * re-running it when the commit loses the optimistic race. Each attempt
    * observes the NEW live version, so retried appends re-mint their ids
    * above the winner's — the lost-update anomaly cannot happen. Losers
    * back off with jitter so two writers in lockstep desynchronize instead
    * of trading conflicts until the attempt budget drains. */
  private[memo] def retryOnConflict[T](body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= DefaultCommitAttempts) throw e
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(10L * attempt, 50L * attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
