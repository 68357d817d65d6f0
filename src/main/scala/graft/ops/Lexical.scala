package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GraftFunctions.tokensKernel

/** BM25 lexical retrieval over a persisted postings artifact — the
  * keyword-search twin of the vector serving paths ([[IvfIndex]],
  * [[PqIndex]]): build the index once, probe it many times with a handful
  * of query terms.
  *
  * The reference ranks memos by embedding cosine only (memo_cli.py:291);
  * a training-data curation pipeline also needs the LEXICAL side — "find
  * every document mentioning these terms, best first" — for targeted
  * audits, contamination spot-checks, and boolean-ish corpus slicing.
  * BM25 (Robertson/Spärck Jones; the Lucene-default ranking function) is
  * the standard scoring for that.
  *
  * At-rest layout, designed for the 100 TB shape of the problem:
  *
  *  - `postings/` — one row per (term, doc) with the term frequency and
  *    the document length DENORMALIZED in (`term, doc_id, tf, dl`),
  *    range-partitioned and sorted by term. A query for k terms reads a
  *    `term IN (...)` slice: the predicate pushes to parquet, and the
  *    sort means matching row groups are CONTIGUOUS — min/max stats skip
  *    everything else, so probe I/O scales with the posting lists
  *    touched, not the corpus. Denormalized `dl` costs one long per
  *    posting and saves the scoring join against a doc-length table.
  *  - `termstats/` — ADDITIVE document-frequency deltas (`term, df`).
  *    Readers aggregate `sum(df)` per term (vocabulary-sized, and the
  *    probe only reads its own query terms' rows); [[append]] writes the
  *    batch's delta without touching existing ones, keeping maintenance
  *    O(batch). [[compactStats]] folds deltas back together when the
  *    count grows. Both tables nest each write in its own
  *    `ingest=<tag>` partition directory — which is what makes
  *    [[appendOnce]]'s micro-batch replay idempotent at the data layer;
  *    [[compactPostings]] folds accumulated postings directories back to
  *    one term-sorted base so probe I/O stays flat under continuous
  *    ingest.
  *  - `tombstones/` — doc ids retracted by [[delete]] (O(batch), no
  *    rebuild): probes anti-join them until [[compactPostings]] applies
  *    them physically and clears the table.
  *  - `_lex_meta` — stamp line (docCount, sum of doc lengths, content
  *    fingerprint) plus the MANIFEST: the live directory list of each
  *    table. N and avgdl — the corpus-global BM25 inputs — are answered
  *    from the stamp at probe time (metadata-only, no scan) and advance
  *    ADDITIVELY on append ([[ArtifactMeta.fingerprint]]'s contract);
  *    the manifest gates data visibility — every maintenance operation
  *    publishes its outcome with ONE atomic meta rename, so lock-free
  *    probes always resolve a complete, consistent directory set.
  *
  * Scoring runs entirely inside whole-stage codegen (arithmetic on tf/dl
  * plus one `ln`), sums per-term contributions as exact DECIMAL so the
  * result is independent of Spark's aggregation order, and takes the
  * top-k with TakeOrderedAndProject — no UDF, no driver loop, one narrow
  * shuffle on doc_id.
  */
object Lexical {

  /** BM25 parameters (the Lucene defaults). */
  val K1 = 1.2
  val B = 0.75

  /** [[searchBm25Batch]]'s term-prune switch point: at or below this many
    * distinct batch terms the prune is a collected `isin` literal (parquet
    * row-group pushdown on the term-sorted postings); above it, a
    * broadcast semi-join on the distinct-terms frame (flat driver memory
    * and plan size at pipeline-scale vocabularies). ~1k keeps the literal
    * comfortably inside filter-pushdown territory. */
  val DefaultIsinTermLimit = 1024

  private val Meta = "_lex_meta"

  private def postingsPath(path: String) = s"$path/postings"
  private def statsPath(path: String) = s"$path/termstats"
  private def tombstonesPath(path: String) = s"$path/tombstones"

  // The artifact's table schemas are fixed by construction, so probes
  // declare them EXPLICITLY instead of inferring from footers. This is
  // both a waste cut (no footer round-trip per probe) and the close of a
  // real availability race the adversarial churn spec caught: a probe
  // that resolved the old manifest can reach a superseded directory
  // mid-delete, and schema INFERENCE over a present-but-emptied directory
  // throws UNABLE_TO_INFER_SCHEMA — a surface the retry classifier can't
  // distinguish from corruption. With the schema declared, the same state
  // reads as empty-or-FileNotFound, both documented transients.
  import org.apache.spark.sql.types.{StructType, StructField, StringType, LongType}
  private val PostingsSchema = StructType(Seq(
    StructField("term", StringType), StructField("doc_id", LongType),
    StructField("dl", LongType), StructField("tf", LongType)))
  private val StatsSchema = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType)))
  private val TombstonesSchema = StructType(Seq(
    StructField("doc_id", LongType)))

  /** (term, doc_id, tf, dl) postings rows for a corpus — one explode +
    * one hash aggregation; `dl` counts ALL tokens of the doc (including
    * duplicates), `tf` the occurrences of this term in it. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        tokensKernel(col(textCol)).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode(col("ts")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))

  /** Parsed `_lex_meta` stamp: core freshness facts (doc count, summed
    * doc length, content fingerprint) plus the optional stream watermark
    * (`lineage#batchId`) [[appendOnce]] maintains. */
  private[graft] final case class LexStamp(n: Long, sumDl: Long, fp: BigInt,
      mark: Option[(String, Long)]) {
    def render: String = {
      val m = mark.map { case (l, b) => s":$l#$b" }.getOrElse("")
      s"$n:$sumDl:fp$fp$m"
    }
  }

  /** ONE aggregation pass for all three stamp inputs (count, content
    * fingerprint, token total) — the freshness fast path is paid once per
    * session per artifact, so it must not scan the corpus twice. The
    * fingerprint term replicates [[ArtifactMeta.fingerprint]]'s exact
    * expression (same additive/order-independent contract). */
  private def lexStamp(docs: DataFrame, idCol: String, textCol: String): LexStamp = {
    val row = docs.agg(
      count(lit(1)),
      coalesce(sum(xxhash64(col(idCol), col(textCol)).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)),
      coalesce(sum(size(tokensKernel(col(textCol)))), lit(0)).cast("long")).head()
    LexStamp(row.getLong(0), row.getLong(2),
      BigInt(row.getDecimal(1).toBigInteger), None)
  }

  /** Live directory sets of the artifact's three tables — the MANIFEST
    * half of `_lex_meta`. Visibility is manifest-gated: probes read
    * EXACTLY the listed directories, so a maintenance operation that
    * writes new directories and then atomically swaps the meta file can
    * never expose a half-swapped state — a concurrent probe sees either
    * the complete old set or the complete new set. Directories on disk
    * but not in the manifest are invisible orphans (crashed maintenance
    * leftovers), swept by the next maintenance run. */
  private[graft] final case class LexDirs(post: Seq[String],
      stats: Seq[String], tombs: Seq[String])

  private final case class LexMeta(stamp: LexStamp, dirs: Option[LexDirs])

  private def readMeta(spark: SparkSession, path: String): Option[LexStamp] =
    readMetaFull(spark, path).map(_.stamp)

  /** Parse the full meta file: stamp line, then `p:`/`s:`/`t:` manifest
    * lines. A stamp-only file (pre-manifest artifact) yields dirs = None
    * and readers fall back to filesystem discovery — upgraded in place
    * by the next maintenance write. */
  private def readMetaFull(spark: SparkSession, path: String): Option[LexMeta] = {
    val p = new org.apache.hadoop.fs.Path(path, Meta)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      // exists→open races a writeIndex invalidation (the only path that
      // DELETES the meta); a vanished file is the same answer arrived at
      // a moment later: no artifact. The atomic publish ([[writeMetaAtomic]])
      // never leaves the file missing, so this cannot mask a swap.
      val lines =
        try {
          val in = fs.open(p)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
          finally in.close()
        } catch { case _: java.io.FileNotFoundException => return None }
      lines.headOption.flatMap(parseStamp).map { st =>
        val tagged = lines.tail.filter(_.length > 2)
        val dirs =
          if (lines.tail.isEmpty) None
          else Some(LexDirs(
            tagged.collect { case l if l.startsWith("p:") => l.drop(2) },
            tagged.collect { case l if l.startsWith("s:") => l.drop(2) },
            tagged.collect { case l if l.startsWith("t:") => l.drop(2) }))
        LexMeta(st, dirs)
      }
    }
  }

  /** Atomically publish stamp + manifest over `_lex_meta` (tmp + atomic
    * overwrite-rename — [[ArtifactMeta.writeAtomic]] has the per-scheme
    * details; the naive FileContext OVERWRITE is delete-then-rename on
    * local filesystems, a missing-file window racing probes misread as
    * "no artifact"). The single swap makes the stats and the data set
    * they describe visible together. */
  private def writeMetaAtomic(spark: SparkSession, path: String,
      stamp: LexStamp, dirs: LexDirs): Unit = {
    val body = (stamp.render +:
      (dirs.post.distinct.map("p:" + _) ++ dirs.stats.distinct.map("s:" + _) ++
        dirs.tombs.distinct.map("t:" + _))).mkString("", "\n", "\n")
    ArtifactMeta.writeAtomic(spark, path, Meta, body)
  }

  /** The live directory sets, from the manifest or (legacy stamp-only
    * artifact) from filesystem discovery. */
  private def resolveDirs(spark: SparkSession, path: String,
      meta: LexMeta): LexDirs =
    meta.dirs.getOrElse(LexDirs(
      ingestDirNames(spark, postingsPath(path)),
      ingestDirNames(spark, statsPath(path)),
      ingestDirNames(spark, tombstonesPath(path))))

  private def parseStamp(stamp: String): Option[LexStamp] =
    stamp.split(":", 4).toSeq match {
      case Seq(n, s, fp, mark) if fp.startsWith("fp") =>
        mark.split("#", 2) match {
          case Array(l, b) => Some(LexStamp(n.toLong, s.toLong,
            BigInt(fp.drop(2)), Some((l, b.toLong))))
          case _ => None
        }
      case Seq(n, s, fp) if fp.startsWith("fp") =>
        Some(LexStamp(n.toLong, s.toLong, BigInt(fp.drop(2)), None))
      case _ => None
    }

  /** The append-in-flight journal (`_lex_journal`): written BEFORE an
    * append touches data, deleted after its stamp advance — so a crash
    * mid-append is DETECTABLE instead of silently serving an artifact
    * whose postings contain a batch the df/N stats don't. Content:
    * `tag|expectedStampAfterAdvance`; a journal whose expected stamp
    * matches the live one is a completed append's stale marker (the
    * crash fell between stamp advance and journal delete) and is safe
    * to ignore. */
  private val Journal = "_lex_journal"

  private final case class Pending(tag: String, expected: String)

  private def readJournal(spark: SparkSession, path: String): Option[Pending] =
    ArtifactMeta.read(spark, path, Journal)
      .map(_.split("\\|", 2))
      .collect { case Array(t, e) => Pending(t, e) }

  /** Thrown by the LOCK-FREE serving path when a pending append journal
    * is live. From a probe's seat this is usually TRANSIENT — a normal
    * micro-batch commit in flight, gone in seconds — and only rarely a
    * crashed append (which persists). So callers should retry briefly
    * before escalating to the O(corpus) rebuild; the engine's hybrid
    * recall does ([[graft.memo.MemoEngine]]). The locked maintenance
    * paths throw plain IllegalStateException instead: under the build
    * lock a live foreign journal can only be a crash. */
  final class PendingAppendException(msg: String)
    extends IllegalStateException(msg)

  /** Meta for SERVING: throws the designed errors for a missing
    * artifact and for one whose pending journal contradicts the live
    * stamp (crashed or in-flight append — checked before any data file
    * is touched). Compactions never trip this: their manifest swap is
    * atomic and the stamp file is never deleted, so probes racing a fold
    * serve the complete old or complete new state. */
  private def serveMeta(spark: SparkSession, path: String): LexMeta = {
    val m = readMetaFull(spark, path).getOrElse(throw new IllegalStateException(
      s"no lexical artifact at $path — writeIndex first"))
    readJournal(spark, path).foreach { j =>
      if (j.expected != m.stamp.render)
        throw new PendingAppendException(
          s"lexical artifact at $path has an append '${j.tag}' in flight " +
            "or crashed — retry shortly; rebuild with " +
            "writeIndex/writeIfAbsent only if this persists")
    }
    m
  }

  /** Freshness = core facts agree (the stream watermark is bookkeeping,
    * not part of the corpus identity) AND no append is in flight /
    * crashed (a pending journal whose expected stamp isn't live means
    * the data layer doesn't match the stats — rebuild). */
  private def fresh(spark: SparkSession, path: String,
      expect: LexStamp): Boolean =
    readMeta(spark, path).exists { s =>
      (s.n, s.sumDl, s.fp) == ((expect.n, expect.sumDl, expect.fp)) &&
        readJournal(spark, path).forall(_.expected == s.render)
    }

  /** Every postings/termstats write lands in its own `ingest=<tag>`
    * partition directory. Readers discover `ingest` as an ordinary
    * partition column (ignored by the probes); writers get IDEMPOTENT
    * batch replay for free — rewriting a batch's directory with
    * `mode("overwrite")` replaces it instead of double-appending, which
    * is what makes [[appendOnce]] exactly-once by construction. */
  private def writeDelta(rows: DataFrame, dir: String, tag: String): Unit =
    rows.write.mode("overwrite").parquet(s"$dir/ingest=$tag")

  private def sortedPostings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    postings(docs, idCol, textCol)
      .repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id")

  /** Output-partition count for an append DELTA: ~one file per
    * [[TokensPerDeltaPart]] tokens of batch text, capped at the session's
    * shuffle parallelism. The s95 profile found streaming lexical ingest
    * dominated by PER-BATCH fixed cost, part of it `repartitionByRange`
    * inheriting `spark.sql.shuffle.partitions` — a 2.5k-doc micro-batch
    * paid a range-sampling job plus ~32 near-empty sorted files and ~32
    * more for the stats delta, per commit. Deltas are transient (the
    * tiered folds re-sort them into base with full parallelism), so they
    * trade the base layout's global range contiguity for hash-by-term +
    * in-partition sort: no sampling pass, each term's postings land in
    * exactly ONE sorted file (min/max row-group skipping intact), and a
    * micro-batch writes one file instead of a spray. Corpus-scale ad-hoc
    * appends still fan out by token volume. */
  private val TokensPerDeltaPart = 1L << 19

  private def deltaParts(spark: SparkSession, tokens: Long): Int = {
    val cap = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1L, math.min(cap.toLong, tokens / TokensPerDeltaPart + 1)).toInt
  }

  private def writeStamped(docs: DataFrame, idCol: String, textCol: String,
      path: String, stamp: LexStamp): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // invalidate FIRST: a crash mid-rebuild must leave a loudly-invalid
    // artifact (missing stamp), never a gutted one the old stamp blesses
    ArtifactMeta.delete(spark, path, Meta)
    ArtifactMeta.delete(spark, path, Journal)
    fs.delete(new org.apache.hadoop.fs.Path(postingsPath(path)), true)
    fs.delete(new org.apache.hadoop.fs.Path(statsPath(path)), true)
    fs.delete(new org.apache.hadoop.fs.Path(tombstonesPath(path)), true)
    writeDelta(sortedPostings(docs, idCol, textCol), postingsPath(path), "base")
    writeDelta(
      spark.read.parquet(postingsPath(path))
        .groupBy("term").agg(count(lit(1)).as("df")),
      statsPath(path), "base")
    writeMetaAtomic(spark, path, stamp,
      LexDirs(Seq("ingest=base"), Seq("ingest=base"), Nil))
  }

  /** Build the postings artifact (build lock; overwrites any prior). */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    ArtifactMeta.withBuildLock(docs, path) {
      writeStamped(docs, idCol, textCol, path,
        lexStamp(docs, idCol, textCol))
    }

  /** Ensure a fresh postings artifact exists for this corpus (stamp =
    * count + token total + content fingerprint; the freshness contract of
    * [[IvfIndex.buildIfAbsent]]). Fresh path is lock-free; the build arm
    * is double-checked under the artifact lock so racing builders yield
    * one artifact. */
  def writeIfAbsent(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val stamp = lexStamp(docs, idCol, textCol)
    if (!fresh(spark, path, stamp))
      ArtifactMeta.withBuildLock(docs, path) {
        if (!fresh(spark, path, stamp))
          writeStamped(docs, idCol, textCol, path, stamp)
      }
  }

  /** Append a batch's postings — O(batch): existing postings files are
    * never read or rewritten, the batch's df delta lands as a new
    * termstats directory, and the stamp advances additively (count, token
    * sum, fingerprint are all sums — [[ArtifactMeta.fingerprint]]'s
    * additive contract), so a later [[writeIfAbsent]] over corpus ∪ batch
    * validates without a rebuild.
    *
    * ID CONTRACT: the batch's doc ids must be DISJOINT from every doc
    * already in the artifact (append means "new documents"). Re-appending
    * a live id would land duplicate (term, doc) postings rows and an
    * inflated df delta — that doc's BM25 contribution double-counts and
    * no error surfaces. The O(batch) guarantee is exactly what forbids a
    * membership probe here (it would read the corpus-sized postings);
    * callers that can't prove disjointness should route the overlap
    * through [[delete]] + [[compactPostings]] + append, or rebuild via
    * [[writeIfAbsent]] (whose stamp check catches any drift). The engine's
    * maintenance paths mint dense fresh ids, satisfying this by
    * construction.
    *
    * The one half of the contract that IS enforced (because it is
    * bounded): an id with a PENDING delete — tombstoned but not yet
    * physically applied by [[compactPostings]] — is rejected with an
    * error. Such an id is no longer "in the artifact" from the caller's
    * view, but its old postings rows are still physically present: the
    * tombstone would mask the re-added rows from every probe while the
    * stamp advanced to include them, and after compaction the stamp would
    * permanently describe a doc the data lacks. The tombstone set is
    * broadcast-sized, so the check costs O(batch), preserving the append
    * bound. Same rule on every artifact family
    * ([[ArtifactMeta.requireNoPendingTombstones]]). */
  def append(batch: DataFrame, idCol: String, textCol: String,
      path: String): Unit =
    appendTagged(batch, idCol, textCol, path,
      "adhoc_" + java.util.UUID.randomUUID().toString.take(8), mark = None)

  /** Exactly-once streaming append — the `foreachBatch` sink shape
    * (`(df, batchId) => Lexical.appendOnce(df, …, batchId)`), the
    * postings artifact's twin of `MemoEngine.streamAppend`. Two layers:
    *
    *  - the stamp carries a `lineage#batchId` watermark — a replayed
    *    micro-batch at or below it no-ops, so the additive stamp facts
    *    (count/token-sum/fingerprint) can never be double-advanced;
    *  - the batch's rows land in a DETERMINISTIC `ingest=<lineage>_<id>`
    *    directory written with overwrite — a replay that raced a crash
    *    BEFORE the stamp advanced rewrites the same directory instead of
    *    appending beside its orphan, so the data layer is idempotent even
    *    across the crash window the watermark can't see.
    *
    * One stream per artifact (single watermark, matching the store's
    * default-lineage shape); concurrent ad-hoc [[append]]s compose fine —
    * they have their own directories and the lock serializes stamps.
    *
    * SERVING CONCURRENCY: probes are lock-free, and data visibility is
    * MANIFEST-GATED — every read resolves the directory set through one
    * atomically-swapped meta file, so compactions (standalone or the
    * in-line fold here) never expose a half-swapped state: a racing
    * probe serves the complete old or the complete new layout. The one
    * refusal window left is an append in flight — its pending journal
    * makes [[searchBm25]] throw for the duration of the micro-batch
    * commit (an in-flight append is indistinguishable from a crashed
    * one without the lock) — and the one residual race is a probe that
    * resolved the OLD manifest and lists files after the fold deleted
    * the superseded directories: it fails LOUDLY (FileNotFound — retry),
    * never silently wrong.
    *
    * Why this table needs no [[IvfIndex.stableRead]] generation
    * re-check: every directory a lexical maintenance op publishes
    * carries a FRESH unique name (`ingest=<uuid-tag>`, `t1_<uuid>`,
    * `base_<uuid>`) — directory names here are already
    * generation-names, so a path in a stale manifest can never be
    * re-satisfied by newer data the way a recreated `cell_id=<c>` dir
    * could in the IVF layout (whose names are fixed by the partition
    * scheme); a stale path is either still the data the manifest
    * described or ABSENT, and absence is the loud transient above. */
  def appendOnce(batch: DataFrame, idCol: String, textCol: String,
      path: String, batchId: Long, lineage: String = "stream",
      maxIngestDirs: Int = MaxIngestDirs): Unit = {
    // RESERVED NAMESPACES: maintenance dirs are classified by name
    // prefix (ingest=t1_* = merged tier, ingest=base* = folded base), so
    // a user lineage whose sanitized form would mint colliding names
    // ("t1" → ingest=t1_<batchId>, "base_x" → ingest=base_x_<id>) gets
    // re-prefixed — otherwise its level-0 dirs would be exempt from
    // tier folds and miscount the full-fold escalation trigger. The
    // re-prefixed name is used in the watermark too, keeping replay
    // detection consistent within the stream.
    val lin = {
      val s = sanitize(lineage)
      if (s == "t1" || s == "base" || s.startsWith("t1_") ||
          s.startsWith("base_")) "u_" + s
      else s
    }
    appendTagged(batch, idCol, textCol, path,
      s"${lin}_$batchId", mark = Some((lin, batchId)),
      maxIngestDirs = maxIngestDirs)
  }

  /** Fresh-ingest directory count that triggers [[appendOnce]]'s in-line
    * tiered compaction (the [[graft.memo.MemoEngine.DefaultMaxSegments]]
    * idea on the postings artifact: bound the probe's read fan-in). */
  val MaxIngestDirs = 64

  /** Merged-tier directory count that escalates [[compactDeltas]] to the
    * full corpus fold. Amortization: level-0 merges cost O(recent
    * batches) every `MaxIngestDirs` appends; the O(corpus) full fold
    * runs only every `MaxIngestDirs × MaxTierDirs` appends — the
    * two-level LSM shape, instead of rewriting the corpus every 64
    * micro-batches forever. */
  val MaxTierDirs = 8

  private def ingestDirNames(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("ingest=") =>
        st.getPath.getName
    }
  }

  private def isTier(name: String) = name.startsWith("ingest=t1_")
  // "ingest=base" from a fresh build; "ingest=base_<x>" from a full fold
  // (the old base stays live until the manifest swap, so the folded base
  // needs a fresh name)
  private def isBase(name: String) =
    name == "ingest=base" || name.startsWith("ingest=base_")

  private def sanitize(tag: String): String =
    tag.replaceAll("[^A-Za-z0-9_-]", "_")

  /** The append commit protocol (shared by [[append]] and [[appendOnce]]):
    *
    *  1. reconcile any journal left by a crashed append — a marker whose
    *     expected stamp is live is a completed append's leftover (drop
    *     it); OUR tag means this call is the replay repairing the crash
    *     (proceed); a foreign tag means the artifact's data and stats
    *     disagree in a way only a rebuild fixes (throw, loudly);
    *  2. journal the intent (tag + the stamp this append will produce);
    *  3. land both deltas in the tag's directories (overwrite:
    *     re-landing after a crash replaces, never duplicates);
    *  4. advance the stamp; 5. drop the journal.
    *
    * A crash at any point leaves either a valid prior artifact with a
    * detectable pending journal (probes refuse, [[writeIfAbsent]]
    * rebuilds, an [[appendOnce]] replay repairs in place) or the
    * completed append — never an undetected torn state. */
  private def appendTagged(batch: DataFrame, idCol: String, textCol: String,
      path: String, tag: String, mark: Option[(String, Long)],
      maxIngestDirs: Int = Int.MaxValue): Unit =
    ArtifactMeta.withBuildLock(batch, path) {
      val spark = batch.sparkSession
      val priorMeta = readMetaFull(spark, path).getOrElse(
        throw new IllegalStateException(
          s"no lexical artifact at $path — writeIndex first"))
      val prior = priorMeta.stamp
      readJournal(spark, path).foreach { j =>
        if (j.expected == prior.render)
          ArtifactMeta.delete(spark, path, Journal) // completed, stale marker
        else if (j.tag != tag)
          throw new IllegalStateException(
            s"lexical artifact at $path has an incomplete append '${j.tag}' — " +
              "rebuild with writeIndex/writeIfAbsent before appending")
      }
      mark.foreach { case (lineage, batchId) =>
        prior.mark.foreach { case (l0, b0) =>
          if (l0 == lineage && b0 >= batchId) return // replayed batch
        }
      }
      val dirs0 = resolveDirs(spark, path, priorMeta)
      if (dirs0.tombs.nonEmpty) {
        // tombstone half of the ID CONTRACT (see [[append]]): an id with
        // a PENDING delete must not be re-appended before
        // [[compactPostings]] applies it — the old postings rows are
        // still present, so the tombstone would anti-join the new rows
        // out of every probe while the stamp advances to include them,
        // and after the fold the stamp permanently describes a doc the
        // data lacks. Bounded: the tombstone set is broadcast-sized.
        val hit = batch.select(col(idCol).cast("long").as("doc_id"))
          .join(broadcast(spark.read
              .parquet(dirs0.tombs.map(n => s"${tombstonesPath(path)}/$n"): _*)
              .select("doc_id")),
            Seq("doc_id"), "left_semi")
          .limit(1).collect()
        if (hit.nonEmpty) throw new IllegalStateException(
          s"append batch contains doc id ${hit.head.getLong(0)} with a " +
            s"pending delete at $path — a tombstoned id may not be " +
            "re-appended until compactPostings applies deletes physically")
      }
      // one aggregation pass for all three additive facts (lexStamp's
      // shape on the batch)
      val b = lexStamp(batch, idCol, textCol)
      val next = LexStamp(prior.n + b.n, prior.sumDl + b.sumDl,
        prior.fp + b.fp, mark.orElse(prior.mark))
      ArtifactMeta.write(spark, path, Journal, s"$tag|${next.render}")
      // delta layout: token-volume-sized hash-by-term + in-partition sort
      // ([[deltaParts]] — the stamp pass already counted the tokens, so
      // the sizing is free), not the base's range partitioning: no
      // sampling job, no per-batch file spray
      val parts = deltaParts(spark, b.sumDl)
      writeDelta(postings(batch, idCol, textCol)
          .repartition(parts, col("term"))
          .sortWithinPartitions("term", "doc_id"),
        postingsPath(path), tag)
      // df delta derived from the just-written postings directory — no
      // second tokenize pass over the batch; coalesced to the same bounded
      // file count (the agg inherits the session shuffle width)
      writeDelta(
        spark.read.parquet(s"${postingsPath(path)}/ingest=$tag")
          .groupBy("term").agg(count(lit(1)).as("df"))
          .coalesce(parts),
        statsPath(path), tag)
      // one atomic swap publishes the stamp AND the batch's directories
      val dirs = dirs0.copy(post = dirs0.post :+ s"ingest=$tag",
        stats = dirs0.stats :+ s"ingest=$tag")
      writeMetaAtomic(spark, path, next, dirs)
      ArtifactMeta.delete(spark, path, Journal)
      // Automatic tiered fold on the streaming path ("one directory per
      // micro-batch, forever" is its degradation mode). Folding HERE —
      // after the batch is fully published — is safe against replay
      // interleavings: a replay of this batch is watermark-detected and
      // no-ops before touching data, so the fold can never erase a
      // directory a replay would re-land beside.
      if (mark.isDefined &&
          dirs.post.count(n => !isBase(n) && !isTier(n)) > maxIngestDirs) {
        compactDeltas(spark, path)
        compactStats(spark, path)
      }
    }

  /** Tiered postings maintenance — the cheap arm [[appendOnce]]'s
    * auto-fold runs: merge the LEVEL-0 ingest directories (one per
    * append/micro-batch) into a single term-sorted tier directory, cost
    * O(rows in those batches) — the base and prior tiers are never read.
    * When `fullAfterTiers` merged tiers have accumulated, escalate to
    * the O(corpus) [[compactPostings]] full fold (which also applies
    * tombstones). Probe fan-in therefore stays ≤ base + `fullAfterTiers`
    * + `MaxIngestDirs` directories while full-corpus rewrites happen
    * every `MaxIngestDirs × fullAfterTiers` appends instead of every
    * `MaxIngestDirs` — the two-level LSM amortization. Same
    * manifest-gated swap as [[compactPostings]] (concurrent probes serve
    * a complete state; a crash leaves the old state serving). */
  def compactDeltas(spark: SparkSession, path: String,
      fullAfterTiers: Int = MaxTierDirs): Unit =
    ArtifactMeta.withBuildLock(spark, path) {
      val m = serveMeta(spark, path)
      val dirs = resolveDirs(spark, path, m)
      val level0 = dirs.post.filterNot(n => isBase(n) || isTier(n))
      if (dirs.post.count(isTier) >= fullAfterTiers)
        compact(spark, path) // deep fold: postings (+tombstones) + stats
      else if (level0.size >= 2) {
        sweepOrphans(spark, postingsPath(path), dirs.post)
        // read ONLY the level-0 directories (explicit paths — the base
        // and tier dirs are untouched), fold to one sorted tier dir;
        // manifest-gated swap as in [[compactPostings]]
        val merged = spark.read
          .parquet(level0.map(n => s"${postingsPath(path)}/$n"): _*)
          .select("term", "doc_id", "tf", "dl")
          .repartitionByRange(col("term"))
          .sortWithinPartitions("term", "doc_id")
        val tag = "t1_" + shortId()
        writeDelta(merged, postingsPath(path), tag)
        writeMetaAtomic(spark, path, m.stamp, dirs.copy(
          post = dirs.post.filterNot(level0.toSet) :+ s"ingest=$tag"))
        deleteDirs(spark, postingsPath(path), level0)
      }
    }

  /** Retract documents from the artifact WITHOUT a rebuild — the delete
    * path every derived structure needs at scale ("remove 0.1% of the
    * corpus" must not cost a full re-index). O(batch) work, the dual of
    * [[append]] under the same journal protocol:
    *
    *  - the batch's doc ids land as a tombstone delta
    *    (`tombstones/ingest=<tag>`); probes exclude tombstoned docs with
    *    a broadcast anti-join (tombstone volume is bounded by deletes
    *    since the last [[compactPostings]], which applies them
    *    physically and clears the table);
    *  - a NEGATIVE df delta lands in termstats, so per-term document
    *    frequencies stay exact under the readers' existing `sum(df)`;
    *  - the stamp facts RETREAT additively (count, token sum,
    *    fingerprint are sums, so subtraction is exact) — a later
    *    [[writeIfAbsent]] over corpus ∖ batch validates without a
    *    rebuild, and a [[searchBm25]] afterwards is bit-identical to one
    *    over a fresh index of the surviving corpus (pinned by
    *    LexicalSpec).
    *
    * ID CONTRACT (the dual of [[append]]'s): the batch must be exactly
    * rows previously ingested — same ids, same text. Deleting an absent
    * id or altered text would skew the subtracted stats with no error
    * surfaced; [[writeIfAbsent]]'s stamp check catches the drift after
    * the fact. */
  def delete(batch: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val tag = "del_" + java.util.UUID.randomUUID().toString.take(8)
    ArtifactMeta.withBuildLock(batch, path) {
      val spark = batch.sparkSession
      val priorMeta = readMetaFull(spark, path).getOrElse(
        throw new IllegalStateException(
          s"no lexical artifact at $path — writeIndex first"))
      val prior = priorMeta.stamp
      readJournal(spark, path).foreach { j =>
        if (j.expected == prior.render)
          ArtifactMeta.delete(spark, path, Journal) // completed, stale marker
        else
          // unlike appendOnce there is no replay-repair arm: delete tags
          // are freshly minted, so any live journal is a crashed run
          throw new IllegalStateException(
            s"lexical artifact at $path has an incomplete append '${j.tag}' — " +
              "rebuild with writeIndex/writeIfAbsent before deleting")
      }
      val b = lexStamp(batch, idCol, textCol)
      val next = LexStamp(prior.n - b.n, prior.sumDl - b.sumDl,
        prior.fp - b.fp, prior.mark)
      require(next.n >= 0 && next.sumDl >= 0,
        s"delete batch exceeds artifact contents at $path " +
          s"(${prior.n} docs, ${b.n} deleted) — id contract violated")
      ArtifactMeta.write(spark, path, Journal, s"$tag|${next.render}")
      writeDelta(batch.select(col(idCol).cast("long").as("doc_id")).distinct(),
        tombstonesPath(path), tag)
      // negative df delta from the batch's own postings (O(batch)
      // tokenize; existing termstats directories are never touched)
      writeDelta(
        postings(batch, idCol, textCol).groupBy("term")
          .agg((-count(lit(1))).as("df")),
        statsPath(path), tag)
      // one atomic swap: retreated stamp + tombstone + df-delta dirs
      val dirs0 = resolveDirs(spark, path, priorMeta)
      writeMetaAtomic(spark, path, next, dirs0.copy(
        stats = dirs0.stats :+ s"ingest=$tag",
        tombs = dirs0.tombs :+ s"ingest=$tag"))
      ArtifactMeta.delete(spark, path, Journal)
    }
  }

  /** Delete directories of a table that the manifest does not reference —
    * crashed-maintenance leftovers (invisible to probes by construction).
    * Runs under the lock at the start of every maintenance op. */
  private def sweepOrphans(spark: SparkSession, tableDir: String,
      live: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ingestDirNames(spark, tableDir).filterNot(live.toSet).foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/$n"), true))
  }

  private def deleteDirs(spark: SparkSession, tableDir: String,
      names: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    names.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/$n"), true))
  }

  private def shortId() = java.util.UUID.randomUUID().toString.take(8)

  /** Fold the termstats deltas back into one aggregated layout — the
    * maintenance companion of [[append]] (run when the delta file count
    * grows; readers are correct either way, this just bounds the
    * per-probe stats scan). Runs under the artifact lock; the swap is
    * MANIFEST-GATED: the folded directory is written beside the live
    * ones, one atomic meta rename repoints readers, and only then are
    * the superseded directories removed — a concurrent probe sees the
    * complete old set or the complete new set, and a crash anywhere
    * leaves the old state serving (the new directory is an invisible
    * orphan, swept by the next maintenance run). */
  def compactStats(spark: SparkSession, path: String): Unit =
    ArtifactMeta.withBuildLock(spark, path) {
      val m = serveMeta(spark, path)
      val dirs = resolveDirs(spark, path, m)
      sweepOrphans(spark, statsPath(path), dirs.stats)
      val folded = spark.read
        .parquet(dirs.stats.map(n => s"${statsPath(path)}/$n"): _*)
        .groupBy("term").agg(sum("df").as("df"))
      val tag = "fold_" + shortId()
      writeDelta(folded, statsPath(path), tag)
      writeMetaAtomic(spark, path, m.stamp,
        dirs.copy(stats = Seq(s"ingest=$tag")))
      deleteDirs(spark, statsPath(path), dirs.stats)
    }

  /** Fold the per-ingest postings directories back into ONE term-sorted
    * base, applying any pending tombstones physically — the maintenance
    * that keeps probe I/O flat under continuous ingest. Without it every
    * [[append]]/[[appendOnce]] leaves a new `ingest=<tag>` directory
    * forever (one per micro-batch under a streaming sink), and a probe's
    * `term IN` slice must touch a row-group range in EVERY directory —
    * file listing and probe I/O growing linearly with ingest history,
    * exactly the degradation the term-sorted layout exists to prevent.
    *
    * Manifest-gated swap ([[compactStats]]'s contract): concurrent
    * probes serve the complete old or complete new state, a crash leaves
    * the old state serving. The stamp is unchanged ([[delete]] already
    * retreated it); tombstoned docs are dropped and the tombstone table
    * cleared in the same swap. Run both compactions together via
    * [[compact]]. */
  /** Whether the artifact carries PENDING delete tombstones — the
    * driver-side probe a maintenance pass uses to decide if a
    * [[compact]] has tombstones to consume (two metadata reads, no
    * job). False for a missing/unstamped artifact. */
  def pendingTombstones(spark: SparkSession, path: String): Boolean =
    readMetaFull(spark, path).exists(_.dirs.exists(_.tombs.nonEmpty))

  def compactPostings(spark: SparkSession, path: String): Unit =
    ArtifactMeta.withBuildLock(spark, path) {
      val m = serveMeta(spark, path)
      val dirs = resolveDirs(spark, path, m)
      sweepOrphans(spark, postingsPath(path), dirs.post)
      val raw = spark.read
        .parquet(dirs.post.map(n => s"${postingsPath(path)}/$n"): _*)
      val live =
        if (dirs.tombs.isEmpty) raw
        else raw.join(broadcast(spark.read
            .parquet(dirs.tombs.map(n => s"${tombstonesPath(path)}/$n"): _*)
            .select("doc_id")),
          Seq("doc_id"), "left_anti")
      val folded = live.select("term", "doc_id", "tf", "dl")
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term", "doc_id")
      val tag = "base_" + shortId()
      writeDelta(folded, postingsPath(path), tag)
      writeMetaAtomic(spark, path, m.stamp,
        LexDirs(Seq(s"ingest=$tag"), dirs.stats, Nil))
      deleteDirs(spark, postingsPath(path), dirs.post)
      // every pending tombstone was consumed by the fold — drop the table
      new org.apache.hadoop.fs.Path(tombstonesPath(path))
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(tombstonesPath(path)), true)
    }

  /** Full maintenance pass: fold postings (applying tombstones) and
    * termstats. Lock is re-entrant, so the pair runs as one critical
    * section. */
  def compact(spark: SparkSession, path: String): Unit =
    ArtifactMeta.withBuildLock(spark, path) {
      compactPostings(spark, path)
      compactStats(spark, path)
    }

  /** `term IN (terms)` as one set-membership predicate (Spark's
    * `InSet`): parquet still prunes row groups by it, and its generated
    * code reads the set as a reference object, so queries with different
    * term counts share one compiled class — an `isin` of n literals
    * compiles n comparisons, a new class per query length. The set is a
    * `HashSet` at every size: the generated code casts the reference to
    * the set's runtime class, and Scala's small sets have one class per
    * size. */
  private def termIn(terms: Seq[String]): Column =
    GraftShims.column(InSet(GraftShims.expression(col("term")),
      scala.collection.immutable.HashSet.from[Any](
        terms.map(UTF8String.fromString))))

  /** BM25 top-k over the artifact for a bag of query terms.
    *
    * Per (doc, term): `idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))`
    * with `idf = ln(1 + (N − df + 0.5)/(df + 0.5))` (the Lucene form —
    * never negative). The idf and the per-term contribution are rounded
    * to fixed decimals and summed as DECIMAL(18,6): decimal addition is
    * exact and commutative, so the doc score doesn't depend on which
    * order Spark's aggregation meets the terms in — the one place BM25
    * could go nondeterministic across partitionings (and across engines:
    * the DuckDB oracle replays the identical arithmetic).
    *
    * Plan shape: pushed `term IN (...)` scan over sorted postings (row
    * groups outside the query's lists are skipped on min/max), broadcast
    * of the vocabulary-row df aggregate, one hash aggregation on doc_id,
    * TakeOrderedAndProject for the top-k. N and avgdl come off the stamp
    * — no corpus scan at probe time.
    *
    * `allowedIds` (one `doc_id`-castable column) restricts the ranking to
    * those documents — FILTER-AS-MASK semantics, the Lucene convention: a
    * filter narrows the CANDIDATES, not the corpus statistics, so idf/N/
    * avgdl stay global and a doc's score is the same filtered or not.
    * Implementation is a semi-join of the term-pruned postings against
    * the id set BEFORE scoring: exact at every selectivity (no over-fetch
    * heuristics) and still zero tokenize-the-corpus work — the only
    * corpus-shaped input is the caller's id set itself. */
  def searchBm25(spark: SparkSession, path: String, terms: Seq[String],
      k: Int, allowedIds: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty, "searchBm25 needs at least one query term")
    // stamp + journal checked BEFORE any data file is touched: a missing
    // or torn artifact surfaces as the designed error, not a parquet one.
    // All reads resolve through the manifest — the probe sees exactly the
    // directory set one atomic meta swap published, never a mid-
    // maintenance mixture.
    val m = serveMeta(spark, path)
    val st = m.stamp
    val dirs = resolveDirs(spark, path, m)
    val avgDl = if (st.n == 0) 0.0 else st.sumDl.toDouble / st.n.toDouble
    val postRaw = spark.read.schema(PostingsSchema)
      .parquet(dirs.post.map(n => s"${postingsPath(path)}/$n"): _*)
      .filter(termIn(terms))
    // pending deletes excluded via a broadcast anti-join (bounded by
    // deletes since the last compactPostings)
    val post0 =
      if (dirs.tombs.isEmpty) postRaw
      else postRaw.join(broadcast(spark.read.schema(TombstonesSchema)
          .parquet(dirs.tombs.map(n => s"${tombstonesPath(path)}/$n"): _*)
          .select("doc_id")),
        Seq("doc_id"), "left_anti")
    // candidate mask (see scaladoc): semi-join BEFORE the score agg so
    // filtered-out docs never enter the aggregation; left side is already
    // term-pruned, so AQE broadcasts whichever side is small
    val post = allowedIds.fold(post0)(ids => post0.join(
      ids.select(ids.columns.head).toDF("doc_id")
        .select(col("doc_id").cast("long").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi"))
    val df = spark.read.schema(StatsSchema)
      .parquet(dirs.stats.map(n => s"${statsPath(path)}/$n"): _*)
      .filter(termIn(terms))
      .groupBy("term").agg(sum("df").cast("double").as("df"))
    score(post, df, st.n, avgDl, k)
  }

  /** BM25 WITHOUT an artifact: postings, document frequencies, and corpus
    * stats computed inline from `docs` — two scans (stats agg + tokenize
    * pass) per call. The right tool for one-shot scoring of a modest
    * corpus (the engine's hybrid recall over a memo store); repeated
    * serving at scale wants [[writeIfAbsent]] + [[searchBm25]], which
    * answer the same query from the artifact. Identical scoring contract
    * (same ranking, bit for bit). */
  def scoreBm25(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "scoreBm25 needs at least one query term")
    val row = docs.agg(count(lit(1)),
      coalesce(sum(size(tokensKernel(col(textCol)))), lit(0)).cast("long")).head()
    val (n, sumDl) = (row.getLong(0), row.getLong(1))
    val post = postings(docs, idCol, textCol)
      .filter(col("term").isin(terms: _*))
    // df is derivable from the term-restricted postings themselves: one
    // row per (term, doc) by construction
    val df = post.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    score(post, df, n, if (n == 0) 0.0 else sumDl.toDouble / n.toDouble, k)
  }

  /** The per-(doc, term) BM25 contribution as a fixed-decimal DECIMAL
    * column — identical operand order to the oracle SQL (see
    * LexicalQueries); shared by the single and batch scoring tails so
    * the two can never drift arithmetically. */
  private def bm25Contrib(n: Long, avgDl: Double): Column = {
    val idf4 = floor(
      log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))) * 10000.0 + 0.5) / 10000.0
    // (1−b) and (k1+1) appear as the PRE-EVALUATED literals 0.25 and 2.2:
    // the oracle SQL carries the same decimal literals, and whether
    // `1.2 + 1.0` re-rounds to exactly the double of "2.2" is the kind of
    // last-ulp question neither engine should be asked to agree on
    val denom = col("tf").cast("double") +
      lit(K1) * (lit(0.25) + lit(B) * (col("dl").cast("double") / lit(avgDl)))
    val contrib = idf4 * ((col("tf").cast("double") * lit(2.2)) / denom)
    (floor(contrib * 1000000.0 + 0.5) / 1000000.0).cast("decimal(18,6)")
  }

  /** Shared scoring tail: (term, doc_id, tf, dl) postings ⋈ broadcast
    * (term, df) → per-term contribution → DECIMAL sum → top-k. */
  private def score(post: DataFrame, df: DataFrame, n: Long, avgDl: Double,
      k: Int): DataFrame =
    post.join(broadcast(df), Seq("term"))
      .select(col("doc_id"), bm25Contrib(n, avgDl).as("s"))
      .groupBy("doc_id")
      .agg(sum(col("s")).cast("double").as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)

  /** [[searchBm25]]'s BATCH twin: per-query BM25 top-k for a
    * (query_id, term) frame in ONE probe of the artifact. The UNION of
    * the batch's distinct terms prunes the postings scan — as a
    * collected `isin` literal up to `isinTermLimit` distinct terms (the
    * single path's pushdown-friendly shape; the sizing collect is capped
    * at limit+1 rows whatever the batch), and as a broadcast semi-join
    * on the distinct-terms frame past it (a 10⁴-query pipeline batch's
    * union vocabulary would otherwise grow the plan and the driver heap
    * with it; both arms keep identical survivors — spec-pinned). Each
    * surviving (term, doc) posting
    * fans out to the queries that asked for that term via a broadcast
    * join with the (query_id, term) pairs, contributions sum as DECIMAL
    * per (query, doc) — order-independent, the single path's
    * determinism recipe on the widened key — and the bounded-heap
    * [[graft.functions.TopKAggregator]] keeps k per query. df/N/avgdl
    * stay GLOBAL (filter-as-mask semantics ride `allowedIds` exactly as
    * the single path), so a doc scores identically under both entry
    * points — spec-pinned per query. Duplicate (query_id, term) pairs
    * dedup first: a repeated query term contributes once, the single
    * path's bag-of-DISTINCT-terms contract. Returns (query_id, doc_id,
    * score), top-k set per query, unordered. */
  def searchBm25Batch(spark: SparkSession, path: String,
      queryTerms: DataFrame, k: Int,
      allowedIds: Option[DataFrame] = None,
      isinTermLimit: Int = DefaultIsinTermLimit,
      emptyOk: Boolean = false): DataFrame = {
    val qt = queryTerms.select(
      col(queryTerms.columns.head).cast("long").as("query_id"),
      col(queryTerms.columns(1)).cast("string").as("term")).distinct()
    val qterms = qt.select("term").distinct()
    // THRESHOLD-SWITCHED term pruning: a serving-scale batch's union
    // vocabulary collects into an `isin` literal (parquet row-group
    // pushdown on the term-sorted postings); a pipeline-scale batch
    // (10⁴+ queries) would grow that literal — plan size and driver
    // memory proportional to the vocabulary — so past `isinTermLimit`
    // the prune becomes a broadcast LEFT SEMI join on the distinct
    // terms frame instead: same survivors, flat driver cost, no
    // vocabulary-proportional plan. The ONE bounded job below sizes the
    // vocabulary (limit+1 rows cap the collect whatever the batch), and
    // under the limit the sample IS the full distinct term set.
    val sample = qterms.limit(isinTermLimit + 1).collect()
      .map(_.getString(0)).toSeq
    // an all-token-free batch has no vocabulary: loud by default (the
    // single-path contract at the ops layer), or — with `emptyOk` — the
    // empty result frame, which lets a hybrid caller skip its own
    // emptiness probe job (this sizing collect already knows)
    if (sample.isEmpty && emptyOk) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("doc_id", LongType),
          StructField("score", DoubleType))))
    }
    require(sample.nonEmpty, "searchBm25Batch needs at least one query term")
    val small = sample.length <= isinTermLimit
    def pruneTerms(df: DataFrame): DataFrame =
      if (small) df.filter(termIn(sample))
      else df.join(broadcast(qterms), Seq("term"), "left_semi")
    val m = serveMeta(spark, path)
    val st = m.stamp
    val dirs = resolveDirs(spark, path, m)
    val avgDl = if (st.n == 0) 0.0 else st.sumDl.toDouble / st.n.toDouble
    val postRaw = pruneTerms(spark.read.schema(PostingsSchema)
      .parquet(dirs.post.map(n => s"${postingsPath(path)}/$n"): _*))
    val post0 =
      if (dirs.tombs.isEmpty) postRaw
      else postRaw.join(broadcast(spark.read.schema(TombstonesSchema)
          .parquet(dirs.tombs.map(n => s"${tombstonesPath(path)}/$n"): _*)
          .select("doc_id")),
        Seq("doc_id"), "left_anti")
    val post = allowedIds.fold(post0)(ids => post0.join(
      ids.select(ids.columns.head).toDF("doc_id")
        .select(col("doc_id").cast("long").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi"))
    val df = pruneTerms(spark.read.schema(StatsSchema)
        .parquet(dirs.stats.map(n => s"${statsPath(path)}/$n"): _*))
      .groupBy("term").agg(sum("df").cast("double").as("df"))
    graft.functions.TopKAgg.perQuery(
      post.join(broadcast(df), Seq("term"))
        .join(broadcast(qt), Seq("term"))
        .select(col("query_id"), col("doc_id"),
          bm25Contrib(st.n, avgDl).as("s"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("s")).cast("double").as("score")),
      "query_id", col("doc_id").cast("long"), col("score"), k,
      outId = "doc_id")
  }

  /** The fusion constant `c` of every reciprocal-rank fusion's
    * `1/(c + rank)`: 60, the value Cormack et al. fix. */
  private val RrfC = 60

  /** [[rrfFuse]] per QUERY: inputs are (query_id, id, rank) frames,
    * ranks 1-based and dense WITHIN each (query, list); fusion and the
    * floor-8 DECIMAL determinism are identical, grouped on
    * (query_id, id), and the top-k cut is a per-query window (each
    * query's fused candidate set is ≤ Σ per-list k rows — the window
    * partitions never see the corpus). Output: (query_id, id,
    * rrf_score, r_1, …, r_n), top-k per query. */
  def rrfFuseBatch(lists: Seq[(String, DataFrame)], k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuseBatch needs at least one ranked list")
    val tagged = lists.map { case (name, df) =>
      df.select(col("query_id").cast("long").as("query_id"), col("id"),
        col("rank").cast("int").as("rank"), lit(name).as("src"))
    }.reduce(_ unionByName _)
    val contrib = (floor(
      lit(1.0) / (lit(RrfC.toDouble) + col("rank").cast("double"))
        * 100000000.0 + 0.5) / 100000000.0).cast("decimal(18,8)")
    val rankCols = lists.map { case (name, _) =>
      min(when(col("src") === name, col("rank"))).as(s"r_$name")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("rrf_score"), col("id"))
    tagged
      .groupBy(col("query_id"), col("id"))
      .agg(sum(contrib).cast("double").as("rrf_score"), rankCols: _*)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Reciprocal-rank fusion of ranked candidate lists (Cormack et al.
    * 2009 — the standard hybrid-retrieval combiner): each list
    * contributes `1/(c + rank)` for the ids it ranked, summed per id.
    * Rank-based, so the two score scales (BM25 vs cosine) never need
    * calibrating against each other.
    *
    * Inputs are (id, rank) frames whose rank column is 1-based and
    * DENSE within each k-bounded list (the caller ranks its own top-k —
    * a window over ≤ k rows, bounded driver-side cost zero). The
    * contribution is floored to 8 decimals and summed as DECIMAL, the
    * [[searchBm25]] determinism recipe: the fused score is independent
    * of Spark's union/aggregation order and replayable bit-exactly by
    * the oracle. Output: (id, rrf_score, r_1, …, r_n) with each list's
    * rank carried through (null where a list missed the id). */
  def rrfFuse(lists: Seq[(String, DataFrame)], k: Int): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val tagged = lists.map { case (name, df) =>
      df.select(col("id"), col("rank").cast("int").as("rank"),
        lit(name).as("src"))
    }.reduce(_ unionByName _)
    val contrib = (floor(
      lit(1.0) / (lit(RrfC.toDouble) + col("rank").cast("double"))
        * 100000000.0 + 0.5) / 100000000.0).cast("decimal(18,8)")
    val rankCols = lists.map { case (name, _) =>
      min(when(col("src") === name, col("rank"))).as(s"r_$name")
    }
    tagged
      .groupBy(col("id"))
      .agg(sum(contrib).cast("double").as("rrf_score"), rankCols: _*)
      .orderBy(desc("rrf_score"), col("id"))
      .limit(k)
  }

  /** [[rrfFuse]] on the driver, for lists already collected: each list
    * is its (id, rank) pairs, in [[rrfFuse]]'s list order. Same
    * arithmetic bit for bit — each contribution floored to 8 decimals
    * through Spark's own double → decimal(18,8) cast, summed exactly,
    * read back as a double — and the same (rrf_score desc, id) top-k
    * cut. Returns (id, rrf_score, each list's rank or None) rows in that
    * order. */
  def rrfFuseLocal(lists: Seq[Seq[(Long, Int)]], k: Int)
      : Seq[(Long, Double, Seq[Option[Int]])] = {
    require(lists.nonEmpty, "rrfFuseLocal needs at least one ranked list")
    def contrib(rank: Int): java.math.BigDecimal = {
      val d = org.apache.spark.sql.types.Decimal(
        math.floor(1.0 / (RrfC.toDouble + rank.toDouble) * 100000000.0 + 0.5)
          .toLong / 100000000.0)
      d.changePrecision(18, 8)
      d.toJavaBigDecimal
    }
    val fused = scala.collection.mutable.HashMap
      .empty[Long, (java.math.BigDecimal, Array[Option[Int]])]
    lists.zipWithIndex.foreach { case (hits, li) =>
      hits.foreach { case (id, rank) =>
        val (sum, ranks) = fused.getOrElse(id, (java.math.BigDecimal.ZERO,
          Array.fill[Option[Int]](lists.size)(None)))
        ranks(li) = Some(ranks(li).fold(rank)(math.min(_, rank)))
        fused(id) = (sum.add(contrib(rank)), ranks)
      }
    }
    fused.toSeq
      .map { case (id, (sum, ranks)) => (id, sum.doubleValue, ranks.toSeq) }
      .sortBy(r => (r._1, r._2))(graft.functions.TopKAggregator.ScoreOrder)
      .take(k)
  }
}
