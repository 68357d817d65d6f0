package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.memo.MemoOps
import graft.functions.GraftFunctions._

/** Memo-engine surface (SURVEY.md §2.3-2.6) exercised over the driver's
  * `documents` + `embeddings` tables: filter algebra (P1-P12), analyze
  * (A1-A10), recall (V3/V4), and the mutation invariants (M1/M4) — each with
  * a DuckDB oracle on the same raw columns.
  *
  * The memo `metadata` map is synthesized from documents columns, so the
  * oracle can state the same predicate directly against the raw table.
  */
object MemoQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** documents → memo records: (id, body, metadata MAP<STRING,STRING>).
    * Metadata values use [[graft.memo.MetaCodec]]'s typed encoding: lang and
    * source are strings ("s"), n_chars an int ("i"), tags a list ("l" +
    * JSON array of typed element strings). */
  def memoRecords(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id").as("id"),
      col("text").as("body"),
      map(
        lit("lang"), concat(lit("s"), col("lang")),
        lit("source"), concat(lit("s"), col("source")),
        lit("n_chars"), concat(lit("i"), col("n_chars").cast("string")),
        lit("tags"), concat(lit("l"), to_json(array(
          concat(lit("s"), col("lang")), concat(lit("s"), col("source")))))
      ).as("metadata"))

  /** Memo records + embedding column joined from the embeddings table. */
  def memoRecordsWithIndex(s: SparkSession, dir: String): DataFrame = {
    val idx = Tables(s, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    memoRecords(s, dir).join(idx, Seq("id"))
  }

  private val q20AnalyzeCount: Q = (s, dir) =>
    MemoOps.analyzeCount(memoRecords(s, dir),
      "{lang: en, n_chars: {$gte: 200}}")

  private val q21AnalyzeProject: Q = (s, dir) =>
    MemoOps.analyzeProject(memoRecords(s, dir),
      "{source: {$prefix: src1}}",
      fields = Seq("id", "lang", "source"), limit = 50, offset = 5)

  private val q22StatsTop4: Q = (s, dir) =>
    MemoOps.statsTopK(memoRecords(s, dir), "{}", "source")

  private val q23StatsNumeric: Q = (s, dir) =>
    MemoOps.statsNumeric(memoRecords(s, dir), "{lang: en}", "n_chars")

  private val q25Cardinality: Q = (s, dir) =>
    MemoOps.cardinality(memoRecords(s, dir), "{lang: en}", "source")

  /** $contains on a JSON-encoded list value + numeric $gte (P6 + P3). */
  private val q26FilterContains: Q = (s, dir) =>
    memoRecords(s, dir)
      .filter(graft.filter.FilterAlgebra.compile(
        "{tags: {$contains: en}, n_chars: {$gte: 100}}", col("metadata")))
      .select(col("id")).orderBy(col("id"))

  /** $or of bare equality and $prefix (P9 + P1 + P5). */
  private val q27FilterOr: Q = (s, dir) =>
    memoRecords(s, dir)
      .filter(graft.filter.FilterAlgebra.compile(
        "$or: [{lang: de}, {source: {$prefix: src1}}]", col("metadata")))
      .select(col("id")).orderBy(col("id"))

  /** $ne with string coercion on a numeric value (P2 string-coerced). */
  private val q28FilterNe: Q = (s, dir) =>
    memoRecords(s, dir)
      .filter(graft.filter.FilterAlgebra.compile(
        "{n_chars: {$ne: 200}, lang: {$ne: en}}", col("metadata")))
      .select(col("id")).orderBy(col("id"))

  /** $and with two range conditions on one key (P8 + P3/P4). */
  private val q29FilterAndRange: Q = (s, dir) =>
    memoRecords(s, dir)
      .filter(graft.filter.FilterAlgebra.compile(
        "$and: [{n_chars: {$gte: 100}}, {n_chars: {$lte: 300}}]",
        col("metadata")))
      .select(col("id")).orderBy(col("id"))

  /** Recall (V3+V4): filtered exact ranking with score floor + top-k. */
  private val q71Recall: Q = (s, dir) => {
    val recs = memoRecordsWithIndex(s, dir)
    val qv = Tables(s, dir, "embeddings")
      .filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val scored = recs.crossJoin(broadcast(qv))
    MemoOps.recall(scored, queryVec = col("qv"), k = 10,
      filterExpr = Some("{lang: en}"))
      .select(col("id"), col("score"))
  }

  /** Compaction + dense re-sequencing (M4): ids 0..n-1 in old-id order.
    * `deleted` is a typed BOOL — a string "false" would be Python-truthy
    * and deleted (that semantics is pinned by q78). */
  private val q72Reindex: Q = (s, dir) => {
    val recs = memoRecords(s, dir).withColumn("metadata",
      map_concat(col("metadata"),
        map(lit("deleted"),
          when(col("id") % 7 === 0, lit("bTrue")).otherwise(lit("bFalse")))))
    MemoOps.reindex(recs).select(col("id").as("new_id"), col("old_id"))
      .orderBy(col("old_id"))
  }

  /** F10/M3 truthiness matrix: deleted via int 1/0, non-empty string
    * (INCLUDING "false" — Python-truthy), bool, explicit null, and the
    * body-YAML variant (`deleted: true` body). Oracle replicates the
    * truth table arithmetically. */
  private val q78DeleteTruthiness: Q = (s, dir) => {
    val recs = memoRecords(s, dir)
      .withColumn("body",
        when(col("id") % 10 === 7, lit("deleted: true")).otherwise(col("body")))
      .withColumn("metadata", map_concat(col("metadata"),
        map(lit("deleted"),
          when(col("id") % 4 === 0,
            concat(lit("i"), (col("id") % 3 === 0).cast("int").cast("string")))
          .when(col("id") % 4 === 1,
            when(col("id") % 3 === 0, lit("sfalse")).otherwise(lit("s")))
          .when(col("id") % 4 === 2,
            when(col("id") % 3 === 0, lit("bTrue")).otherwise(lit("bFalse")))
          .otherwise(lit("z")))))
    MemoOps.reindex(recs).select(col("id").as("new_id"), col("old_id"))
      .orderBy(col("old_id"))
  }

  /** Dense-id append (M1): new ids continue from max(existing)+1. */
  private val q73AppendIds: Q = (s, dir) => {
    val docs = memoRecords(s, dir)
    val batch = docs.filter(
      graft.filter.FilterAlgebra.compile("{source: src5}", col("metadata")))
    MemoOps.appendIds(docs, batch, "id")
      .select(col("new_id"), col("id").as("old_id"))
      .orderBy(col("old_id"))
  }

  /** Row-level changefeed classification (beyond the reference — the
    * general arm of [[graft.memo.MemoEngine.changesBetween]]): removals,
    * body updates, metadata-ONLY updates (sorted-entry canonical map
    * compare — the flag is INJECTED into an existing map, so entry order
    * alone must never fabricate a diff), and re-keyed appends, all in one
    * full-outer id join; untouched rows must not surface. */
  private val q95Changefeed: Q = (s, dir) => {
    val from = memoRecords(s, dir)
    val appended = from.filter(col("id") % 17 === 0)
      .withColumn("id", col("id") + lit(100000000L))
    val to = from
      .filter(col("id") % 13 =!= 0) // removed
      .withColumn("body",
        when(col("id") % 7 === 0,
          concat(lit("redacted "), col("id").cast("string")))
          .otherwise(col("body"))) // updated (body)
      .withColumn("metadata",
        when(col("id") % 11 === 0,
          map_concat(col("metadata"), map(lit("flag"), lit("bTrue"))))
          .otherwise(col("metadata"))) // updated (metadata only)
      .unionByName(appended) // added
    MemoOps.changeFeed(from, to)
      .select(col("id"), col("change"), col("body"))
      .orderBy("id")
  }

  /** CDC outbox end-to-end (the [[graft.memo.MemoEngine.emitChanges]]
    * materialization, beyond the reference): a three-commit store built
    * from the documents table — bootstrap (first ~2/3 by doc_id), append
    * (the rest), overwrite (every 9th id redacted) — emitted to a log and
    * read back as (commit_version, id, change, body). The oracle replays
    * the whole construction: dense ids = row_number over doc_id order, the
    * 2/3 integer cut decides which commit each add lands in, and the
    * rewrite commit surfaces ONLY the redacted rows (the classification
    * join must not leak untouched rows into commit 2). Store and log are
    * BUILD-ONCE per sf-dir (the shared tmp-artifact convention — the
    * content is a pure function of the table), so a bench repeat measures
    * the steady state: reading the materialized log. */
  private val q96CdcOutbox: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q96cdc", dir))
    val log = base.resolve("cdc").toString
    val done = base.resolve("_done")
    if (!java.nio.file.Files.exists(done)) {
      // bounded by construction: ≤300 rows reach the driver at any SF
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect()
      val n = docs.length
      val cut = (n * 2) / 3
      def yamlOf(texts: Seq[String]) = {
        // Each text is interpolated into a single `body: <text>` line, so
        // the ONLY way the batch could mis-split is an embedded newline
        // (which could open a fresh line reading as `---` or a new key).
        // The oracle sees the raw text, so we must not rewrite it —
        // assert the fixture invariant loudly instead of sanitizing.
        texts.find(t => t.exists(c => c == '\n' || c == '\r')).foreach(t =>
          throw new IllegalStateException(
            s"q96 fixture text contains a newline (would corrupt the " +
            s"YAML batch and diverge from the oracle): ${t.take(80)}"))
        texts.map(t => s"---\nbody: $t\n").mkString
      }
      val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
      if (engine.exists) engine.clean() // torn prior build: start over
      // a torn prior LOG restarts too (dirs are re-emitted identically,
      // but a half-written staging must not linger)
      val lp = java.nio.file.Paths.get(log)
      if (java.nio.file.Files.exists(lp)) {
        val walk = java.nio.file.Files.walk(lp)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
        finally walk.close()
      }
      engine.save(yamlOf(docs.take(cut).map(_.getString(1)).toSeq)) // v0
      engine.save(yamlOf(docs.drop(cut).map(_.getString(1)).toSeq)) // v1
      engine.save((0 until n).filter(_ % 9 == 0)
        .map(i => s"---\nid: $i\nbody: redacted $i\n").mkString) // v2
      engine.emitChanges(log)
      java.nio.file.Files.createFile(done)
    }
    s.read.schema(graft.memo.MemoEngine.ChangeLogSchema)
      .parquet(s"$log/commit-*")
      .select(col("commit_version"), col("id"), col("change"), col("body"))
      .orderBy("commit_version", "id")
  }

  /** Segment-pruned merge end-to-end (the r12 `patchMerge` path, beyond
    * the reference): a three-segment store built from the documents table
    * (three equal `save` commits in doc_id order), then ONE CDC batch
    * ([[graft.memo.MemoEngine.applyChanges]]) that updates every 10th id
    * in the MIDDLE third and removes every 25th id in the LAST third —
    * so the middle and last segments rewrite while the first rides into
    * the new manifest BY REFERENCE (asserted loudly at build time; the
    * oracle pins the SEMANTICS: DuckDB replays dense minting in doc_id
    * order, the thirds cut, the update rule, and the remove rule).
    * BUILD-ONCE per sf-dir; a bench repeat measures reading the patched
    * store. */
  private val q97PatchMerge: Q = (s, dir) => {
    import s.implicits._
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q97patch", dir))
    val done = base.resolve("_done")
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = n / 3
      def yamlOf(texts: Seq[String]) = {
        texts.find(t => t.exists(c => c == '\n' || c == '\r')).foreach(t =>
          throw new IllegalStateException(
            s"q97 fixture text contains a newline: ${t.take(80)}"))
        texts.map(t => s"---\nbody: $t\n").mkString
      }
      val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.grouped(third.max(1)).foreach(g =>
        engine.save(yamlOf(g.map(_.getString(1)).toSeq)))
      val updates = (third until 2 * third).filter(_ % 10 == 0)
        .map(i => (i.toLong, "updated", s"patched $i"))
      val removes = (2 * third until n).filter(_ % 25 == 0)
        .map(i => (i.toLong, "removed", ""))
      val feed = (updates ++ removes).toDF("id", "change", "body")
        .withColumn("metadata", map(lit("patched"), lit("bTrue")))
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      // the point of the exercise, pinned loudly: first segment kept BY
      // REFERENCE (manifest = [v0's dir, the patch dir]) — if this ever
      // reads 1 the patch silently degraded to a full rewrite
      val mf = java.nio.file.Files.readAllLines(base.resolve("db")
        .resolve(s"v${engine.versions.max}").resolve("records.manifest"))
      require(mf.size == 2 && mf.get(0).contains("/v0/"),
        s"q97 expected a segment-pruned manifest [v0, patch], got $mf")
      java.nio.file.Files.createFile(done)
    }
    new graft.memo.MemoEngine(s, base.resolve("db").toString)
      .records.select(col("id"), col("body")).orderBy("id")
  }

  /** Incremental materialized view end-to-end (the r12 `viewState` path,
    * beyond the reference): a three-segment store with per-doc `tag`
    * metadata, a view grouped by that tag (doc count + char/token sums)
    * materialized BEFORE a CDC patch batch, then refreshed AFTER it — the
    * refresh is asserted to have taken the INCREMENTAL arm (patch-feed
    * retractions, not a corpus rescan), and the oracle pins the final
    * state: DuckDB replays the minting, the thirds cut, the update rule
    * (body + tag move to t9), the remove rule, and the group-by sums.
    * BUILD-ONCE per sf-dir; a bench repeat measures a fresh-serve read. */
  private val q98IncrView: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q98view", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q98 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {tag: t${i % 4}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      // metadata values are stored in MetaCodec's typed encoding ('s'+str
      // for strings — the feed below carries pre-encoded "st9" for the
      // same reason); the group key strips the sigil for display, which
      // also exercises an expression-valued (not column-valued) group key
      engine.viewState("bytag", "substring(metadata['tag'], 2)",
        Seq("chars" -> "length(body)", "toks" -> "size(split(body, ' '))"))
      import s.implicits._
      val updates = (third until 2 * third).filter(_ % 10 == 0)
        .map(i => (i.toLong, "updated", s"patched $i", Map("tag" -> "st9")))
      val removes = (2 * third until n).filter(_ % 25 == 0)
        .map(i => (i.toLong, "removed", "", Map.empty[String, String]))
      val feed = (updates ++ removes).toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      java.nio.file.Files.createFile(done)
    }
    val out = engine.viewState("bytag", "substring(metadata['tag'], 2)",
      Seq("chars" -> "length(body)", "toks" -> "size(split(body, ' '))"))
    // the point of the exercise, pinned loudly: on the build pass the
    // post-patch refresh must have been INCREMENTAL (feed retractions) —
    // if this ever reads "rebuild" the O(delta) path silently degraded
    if (buildPass) {
      val mode = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(mode == "incremental",
        s"q98 expected an incremental view refresh, got $mode")
    }
    out.orderBy("group_key")
  }

  /** MIN/MAX view measures end-to-end (the r13 non-additive aggregator
    * class): a three-segment store with numeric `w` metadata
    * (deterministic (id·37) mod 101), a min/max view over it, then one
    * CDC patch batch that (a) lowers some weights to 0 — retractions the
    * stored-extreme test proves COVERED or merges in place — and (b)
    * removes group t0's pre-batch champion with nothing covering it —
    * which the PER-GROUP RESERVE absorbs: the refresh is asserted to have
    * stayed on the INCREMENTAL arm (the runner-up was already stored; no
    * corpus rescan). The oracle replays the minting, the weight rule, the
    * update rule, and the champion removal down to each group's
    * count/max/min.
    * BUILD-ONCE per sf-dir; a bench repeat measures a fresh-serve read. */
  private val q99ViewExtremes: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q99view", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    val wExpr = "regexp_extract(metadata['w'], '^i?(-?\\\\d+)$', 1)"
    val measures = Seq("wmax" -> wExpr, "wmin" -> wExpr)
    val aggs = Map("wmax" -> "max", "wmin" -> "min")
    def view() = engine.viewState("extremes",
      "substring(metadata['tag'], 2)", measures, aggs)
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def w(i: Int) = (i * 37) % 101
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q99 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {tag: t${i % 4}, w: ${w(i)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      view()
      import s.implicits._
      // pre-batch champion of group t0: smallest id among its max-weight
      // rows (the oracle computes the same argmax)
      val g0 = (0 until n).filter(_ % 4 == 0)
      val champion = g0.filter(i => w(i) == g0.map(w).max).min
      val updates = (third until 2 * third)
        .filter(i => i % 10 == 0 && i != champion)
        .map(i => (i.toLong, "updated", s"patched $i",
          Map("tag" -> s"st${i % 4}", "w" -> "i0")))
      val removes = Seq((champion.toLong, "removed", "",
        Map.empty[String, String]))
      val feed = (updates ++ removes)
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      java.nio.file.Files.createFile(done)
    }
    val out = view()
    // pinned loudly: the champion removal had no covering add, yet the
    // reserve holds the runner-up — the build-pass refresh must have
    // stayed INCREMENTAL. "rebuild" means the O(delta) maintenance
    // silently degraded; "incremental_rescan" means the reserve failed
    // to absorb a single champion retraction
    if (buildPass) {
      val mode = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(mode == "incremental",
        s"q99 expected a reserve-covered incremental refresh, got $mode")
    }
    out.orderBy("group_key")
  }

  /** Segment-level data skipping end-to-end (the r13 `_metastats`
    * sidecars): a three-segment store whose `part` metadata correlates
    * with the save order, then a filtered analyze projection on one
    * part — the build asserts [[graft.memo.MemoEngine.segmentPrune]]
    * proved exactly ONE segment can match (the stats pruned the scan,
    * not just the predicate), and the oracle replays the minting, the
    * thirds cut, and the projection. BUILD-ONCE per sf-dir; a bench
    * repeat measures the pruned filtered read. */
  private val q100MetaSkip: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q100skip", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q100 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {part: p${math.min(i / third, 2)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      // the point of the exercise, pinned loudly: the stats sidecars
      // must PROVE only one segment can hold part p1 — if kept ever
      // equals total the filtered read degraded to a full chain scan
      val (kept, total) = engine.segmentPrune("part: p1")
      require(total >= 3 && kept == 1,
        s"q100 expected stats to prune to 1 of >=3 segments, " +
          s"got ($kept, $total)")
      java.nio.file.Files.createFile(done)
    }
    engine.analyzeProject("part: p1", Seq("id", "part"), limit = 200)
  }

  /** AVG view measures end-to-end (the r14 derived-aggregate arm): the
    * q99 weight fixture ((id·37) mod 101, tag t{id%4}, three segments),
    * a view carrying the SAME weight expression under SUM and AVG, a CDC
    * patch that zeroes the middle third's %10 weights and removes the
    * last third's %25 ids, and a refresh asserted INCREMENTAL — AVG
    * retracts through the SUM machinery (state stores the sum; the
    * DOUBLE division by doc_count happens only at serve). The oracle
    * replays minting, weights, both patch rules, and the division. */
  private val q102ViewAvg: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q102avg", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    val wExpr = "regexp_extract(metadata['w'], '^i?(-?\\\\d+)$', 1)"
    val measures = Seq("w_sum" -> wExpr, "w_avg" -> wExpr)
    val aggs = Map("w_avg" -> "avg")
    def view() = engine.viewState("avgw",
      "substring(metadata['tag'], 2)", measures, aggs)
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def w(i: Int) = (i * 37) % 101
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q102 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {tag: t${i % 4}, w: ${w(i)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      view()
      import s.implicits._
      val updates = (third until 2 * third).filter(_ % 10 == 0)
        .map(i => (i.toLong, "updated", s"patched $i",
          Map("tag" -> s"st${i % 4}", "w" -> "i0")))
      val removes = (2 * third until n).filter(_ % 25 == 0)
        .map(i => (i.toLong, "removed", "", Map.empty[String, String]))
      val feed = (updates ++ removes)
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      java.nio.file.Files.createFile(done)
    }
    val out = view()
    // pinned loudly: AVG maintenance must ride the O(delta) SUM arm —
    // "rebuild" means the derived aggregate silently degraded the view
    // family's cost class
    if (buildPass) {
      val mode = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(mode == "incremental",
        s"q102 expected an incremental avg refresh, got $mode")
    }
    out.orderBy("group_key")
  }

  /** COUNT DISTINCT view measures end-to-end (the r15 dictionary-backed
    * retractable aggregate): the q102 store shape (dense ids over the
    * first 300 docs, three segments, tag t{id%4}) with a second metadata
    * key src = c{(id·13)%7} — ≤ 8 distinct sources per group, well under
    * the dictionary cap, so every maintenance step is covered. A CDC
    * patch moves the middle third's %10 rows onto a NEW source (c9 —
    * a dictionary insert) and removes the last third's %25 ids
    * (multiplicity-covered retractions), and the refresh is asserted
    * INCREMENTAL — the exact distinct count retracts through the
    * bounded per-group dictionary, never a rescan. The oracle replays
    * minting, both patch rules, and COUNT(DISTINCT src). */
  private val q105ViewDistinct: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q105dd", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    val measures = Seq("n_src" -> "substring(metadata['src'], 2)")
    val aggs = Map("n_src" -> "count_distinct")
    def view() = engine.viewState("ddsrc",
      "substring(metadata['tag'], 2)", measures, aggs)
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def src(i: Int) = s"c${(i * 13) % 7}"
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q105 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {tag: t${i % 4}, src: ${src(i)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      view()
      import s.implicits._
      val updates = (third until 2 * third).filter(_ % 10 == 0)
        .map(i => (i.toLong, "updated", s"moved $i",
          Map("tag" -> s"st${i % 4}", "src" -> "sc9")))
      val removes = (2 * third until n).filter(_ % 25 == 0)
        .map(i => (i.toLong, "removed", "", Map.empty[String, String]))
      val feed = (updates ++ removes)
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      java.nio.file.Files.createFile(done)
    }
    val out = view()
    // pinned loudly: the distinct maintenance must ride the O(delta)
    // dictionary arm — "rebuild"/"incremental_rescan" would mean the
    // covered retractions silently degraded the view family's cost class
    if (buildPass) {
      val mode = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(mode == "incremental",
        s"q105 expected an incremental distinct refresh, got $mode")
    }
    out.orderBy("group_key")
  }

  /** WHERE-scoped materialized view end-to-end (the r15 filtered-view
    * composition): the q100 store shape (dense ids, three segments, grp
    * correlated with the save order so the stats sidecars PROVE only
    * one segment can match `{grp: g1}` — asserted at build), a view
    * scoped to that predicate, and a CDC patch that moves rows ACROSS
    * the predicate boundary in BOTH directions (middle-third %10 rows
    * leave g1; first-third %7 rows enter it, with new bodies) — the
    * refresh is asserted INCREMENTAL: boundary crossings retract on the
    * side they left and add on the side they entered, through the feed
    * alone. The oracle replays minting, the thirds rule, both crossing
    * rules, and the filtered group-by. */
  private val q107ViewFiltered: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q107fv", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    val measures = Seq("chars" -> "length(body)")
    def view() = engine.viewState("fv1",
      "substring(metadata['tag'], 2)", measures,
      where = Some("{grp: g1}"))
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q107 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {tag: t${i % 4}, " +
            s"grp: g${math.min(i / third, 2)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      // pinned loudly: the predicate must be stats-prunable — the
      // filtered view's corpus scans read 1 of >=3 segments
      val (kept, total) = engine.segmentPrune("{grp: g1}")
      require(total >= 3 && kept == 1,
        s"q107 expected stats to prune to 1 of >=3 segments, " +
          s"got ($kept, $total)")
      view()
      import s.implicits._
      val outs = (third until 2 * third).filter(_ % 10 == 0)
        .map(i => (i.toLong, "updated", s"out $i",
          Map("tag" -> s"st${i % 4}", "grp" -> "sg9")))
      val ins = (0 until third).filter(_ % 7 == 0)
        .map(i => (i.toLong, "updated", s"in $i",
          Map("tag" -> s"st${i % 4}", "grp" -> "sg1")))
      val feed = (outs ++ ins)
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      java.nio.file.Files.createFile(done)
    }
    val out = view()
    // pinned loudly: boundary crossings must ride the O(delta) feed arm
    if (buildPass) {
      val mode = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(mode == "incremental",
        s"q107 expected an incremental filtered refresh, got $mode")
    }
    out.orderBy("group_key")
  }

  /** COUNT (non-null) view measures end-to-end (the r15 presence
    * aggregate): dense ids, tag t{id%4}, and an OPTIONAL metadata key
    * `opt` present only on id%3==0 rows — so COUNT(metadata['opt'])
    * diverges from doc_count and actually exercises the null-skip. A
    * CDC patch moves middle-third rows across the PRESENCE boundary in
    * both directions (id%6==0 rows drop the key, id%6==1 rows gain it)
    * and removes first-third %25 ids; the refresh is asserted
    * INCREMENTAL (presence is additive — the SUM machinery retracts it
    * by negation). The oracle replays minting, the presence rule, both
    * patch rules, and COUNT(opt). */
  private val q109ViewCount: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q109vc", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    val measures = Seq("n_opt" -> "metadata['opt']")
    val aggs = Map("n_opt" -> "count")
    def view() = engine.viewState("vcnt",
      "substring(metadata['tag'], 2)", measures, aggs)
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q109 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          val opt = if (i % 3 == 0) s", opt: v$i" else ""
          s"---\nbody: $t\nmetadata: {tag: t${i % 4}$opt}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      view()
      import s.implicits._
      val drops = (third until 2 * third).filter(_ % 6 == 0)
        .map(i => (i.toLong, "updated", s"opt dropped $i",
          Map("tag" -> s"st${i % 4}")))
      val gains = (third until 2 * third).filter(_ % 6 == 1)
        .map(i => (i.toLong, "updated", s"opt gained $i",
          Map("tag" -> s"st${i % 4}", "opt" -> s"sw$i")))
      val removes = (0 until third).filter(_ % 25 == 0)
        .map(i => (i.toLong, "removed", "", Map.empty[String, String]))
      val feed = (drops ++ gains ++ removes)
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      java.nio.file.Files.createFile(done)
    }
    val out = view()
    // pinned loudly: presence retraction must ride the O(delta) SUM arm
    if (buildPass) {
      val mode = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(mode == "incremental",
        s"q109 expected an incremental count refresh, got $mode")
    }
    out.orderBy("group_key")
  }

  /** Filtered ANN serving end-to-end (the r14 `annRecall(filterExpr)`
    * path — the reference's filter-determines-candidates contract,
    * memo_cli.py:489-521, on the probe-pruned serving path): the q100
    * store shape (three segments, `part` correlated with save order),
    * an engine-maintained IVF artifact, and a filtered ANN query whose k
    * exceeds the survivor count — so the probe-WIDENING retry must walk
    * nprobe out to the full cell set and the result is EXACTLY the
    * filter's non-blank survivor id set (which DuckDB replays from the
    * minting + thirds-cut + blank rules; scores are hash-embed cosines,
    * not SQL-expressible — score parity vs filtered brute force is
    * MemoEngineSpec's filtered-ANN pins). Build asserts the mask
    * derivation segment-pruned AND the widening fired. BUILD-ONCE per
    * sf-dir; a bench repeat measures the filtered probe serving path. */
  private val q101FilteredAnn: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q101fann", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q101 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {part: p${math.min(i / third, 2)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      // pinned loudly: the candidate mask must derive off the PRUNED
      // frame (one of ≥3 segments can hold p1) …
      val (kept, total) = engine.segmentPrune("part: p1")
      require(total >= 3 && kept == 1,
        s"q101 expected stats to prune to 1 of >=3 segments, " +
          s"got ($kept, $total)")
      java.nio.file.Files.createFile(done)
    }
    val out = engine.annRecall("shared topic language", k = 200,
      nprobe = 1, filterExpr = Some("part: p1"))
      .select(col("id")).orderBy(col("id"))
    val ids = out // force the widening before reading the seam
    ids.count()
    // … and the under-filled first probe must have WIDENED to fill
    // (k=200 exceeds the ~third survivors, so the loop must end at the
    // full cell set — if this reads (1, 0) the fill contract degraded
    // to a silently short post-filtered list)
    val probe = engine.lastFilteredAnnProbe.getOrElse((0, 0))
    require(probe._2 >= 1 && probe._1 > 1,
      s"q101 expected a probe-widening retry, got $probe")
    out
  }

  /** Multi-key Z-order layout end-to-end (the r14 `clusterBy(keys)`
    * arm): a store whose TWO metadata keys are mutually uncorrelated
    * AND uncorrelated with the save order — no single-key layout can
    * prune both — rewritten once by the z-order clusterBy, then a
    * filtered projection on the SECOND key. The build asserts the
    * z layout prunes selective filters on EITHER key (and that before
    * the rewrite neither pruned); the oracle replays minting, the two
    * key rules, and the projection. BUILD-ONCE per sf-dir; a bench
    * repeat measures the pruned filtered read off the z layout. */
  private val q104ZorderSkip: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q104z", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q104 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {ka: a${i % 4}, kb: b${(i / 4) % 4}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      // pinned loudly, both directions: the uncorrelated layout prunes
      // NOTHING on either key …
      val (k0a, t0a) = engine.segmentPrune("ka: a1")
      val (k0b, t0b) = engine.segmentPrune("kb: b2")
      require(k0a == t0a && k0b == t0b,
        s"q104 expected an unprunable pre-layout, got ($k0a/$t0a, $k0b/$t0b)")
      engine.clusterBy(Seq("ka", "kb"), nClusters = 16)
      // … and ONE z-ordered rewrite prunes selective filters on BOTH
      val (ka, ta) = engine.segmentPrune("ka: a1")
      val (kb, tb) = engine.segmentPrune("kb: b2")
      // ≤ half on each key: the range partitioner's sampled boundaries
      // may straddle adjacent z values, so exact 4/16 is not guaranteed —
      // the CLAIM is selective pruning on BOTH keys from one layout
      require(ta >= 8 && ka * 2 <= ta && kb * 2 <= tb,
        s"q104 expected the z layout to prune both keys, " +
          s"got ($ka/$ta, $kb/$tb)")
      java.nio.file.Files.createFile(done)
    }
    engine.analyzeProject("kb: b2", Seq("id", "kb"), limit = 300)
  }

  /** The hybrid SERVING front door end-to-end (the r16
    * `hybridServe` router: semantic leg brute/IVF/PQ off the stats
    * sidecars, lexical leg always the postings probe): the q101 store
    * shape, a filtered hybrid query with perList ≥ survivors at full
    * probe — so each semantic arm returns EXACTLY the non-blank
    * survivor ranking and the fused id set is the survivor set
    * (replayed by DuckDB from the minting + thirds-cut + blank rules;
    * rrf scores ride hash-embed cosine ranks, not SQL-expressible).
    * The BUILD PASS requires (a) the floor bit no survivor — the
    * id-set claim's soundness guard — and (b) all THREE routes return
    * the identical fused ranking (ids, scores, per-list ranks): the
    * router's whole contract, exercised at sf scale once per fixture
    * build (the q109 buildPass idiom). BUILD-ONCE per sf-dir; a bench
    * repeat prices ONE routed hybrid serve (the artifact-backed ann
    * arm), and the emitted id set is oracle-hashed on every run
    * whatever the route. */
  private val q111HybridServe: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q111hserve", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(240)
        .collect() // bounded by construction: ≤240 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q111 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {part: p${math.min(i / third, 2)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      java.nio.file.Files.createFile(done)
    }
    val f = Some("part: p1")
    val q = "shared topic language"
    def route(bruteRows: Long, pqBytes: Long, expect: String) = {
      val out = engine.hybridServe(q, k = 120, filterExpr = f,
          perList = 120, nprobe = graft.memo.MemoEngine.AnnNlist,
          bruteRows = bruteRows, pqBytes = pqBytes)
        .select(col("id"), col("rrf_score"), col("r_bm25"), col("r_vec"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3))).toSeq
      val got = engine.lastServeRoute.map(_._1).getOrElse("?")
      require(got == expect, s"q111 expected route $expect, got $got")
      out
    }
    // the SERVED ranking every run: the ann route (the artifact-backed
    // arm a big store would take), full probe, perList ≥ survivors
    val viaAnn = route(0L, Long.MaxValue, "ann")
    // the expensive cross-checks run once per session (the q109-style
    // buildPass idiom): the bench repeats price ONE routed hybrid serve
    if (buildPass) {
      // soundness guard for the id-set oracle: every non-blank survivor
      // scores above the −0.9 floor (recall floors the raw cosine), so
      // the vec leg alone already carries the whole survivor set
      val survivors = engine.records
        .filter(graft.filter.FilterAlgebra.compile("part: p1",
          col("metadata")))
        .filter(!graft.functions.GraftFunctions.isBlank(col("body")))
        .count()
      require(survivors >= 1 && survivors <= 100,
        s"q111 expected 1..100 survivors, got $survivors")
      val bruteN = engine.recall(q, k = 120, filterExpr = f).count()
      require(bruteN == survivors,
        s"q111 floor guard failed: recall filled $bruteN of $survivors " +
          "survivors — the id-set oracle would be unsound")
      require(viaAnn.length.toLong == survivors,
        s"q111 fused ranking has ${viaAnn.length} rows, " +
          s"expected $survivors")
      // ROUTE PARITY: at full probe with perList ≥ survivors the three
      // semantic arms are provably equal, so the fused rankings must
      // match bit-for-bit (ids, rrf scores, per-list ranks)
      val viaBrute = route(4096L, Long.MaxValue, "brute")
      val viaPq = route(0L, 0L, "pq")
      require(viaAnn == viaBrute,
        "q111 ann-routed fused ranking diverged from the brute route")
      require(viaPq == viaBrute,
        "q111 pq-routed fused ranking diverged from the brute route")
    }
    import s.implicits._
    viaAnn.map(_._1).sorted.toDF("id").orderBy("id")
  }

  /** Stats served from a covering VIEW end-to-end (the r16
    * `statsPairs` route): a store whose docs carry (lang, src)
    * metadata minted from the doc ordinal, a registered view grouped
    * by `metadata['src']` and WHERE-scoped to `{lang: en}`, and the
    * stats pairs ask that view covers. The build REQUIRES the route
    * seam reads `view:` and that the view-served pairs equal the
    * corpus-scan pairs exactly (the CLI stats block is a pure function
    * of them); the oracle replays the minting rules in DuckDB — so the
    * state-backed rollup, not just its row count, is hash-verified.
    * BUILD-ONCE per sf-dir; a bench repeat prices the view-served
    * stats read plus the scan it replaces. */
  /** BUILD-ONCE 240-doc (lang, src) stats fixture shared by q112 and
    * q114: the doc ordinal mints lang (sw when i%3=0, else en) and src
    * (s{i%7}); the covering view `cardsrc` groups `metadata['src']`
    * WHERE `{lang: en}` (registered idempotently — whichever query runs
    * first). */
  private def statsFixture(s: SparkSession, dir: String)
      : graft.memo.MemoEngine = {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q112stats", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    if (!java.nio.file.Files.exists(done)) {
      val n = 240
      def yamlOf(ids: Range) = ids.map { i =>
        val lang = if (i % 3 == 0) "sw" else "en"
        s"---\nbody: stats corpus doc $i\n" +
          s"metadata: {lang: $lang, src: s${i % 7}}\n"
      }.mkString
      if (engine.exists) engine.clean() // torn prior build: start over
      engine.save(yamlOf(0 until n / 2))
      engine.save(yamlOf(n / 2 until n))
      java.nio.file.Files.createFile(done)
    }
    engine.viewState("cardsrc", "metadata['src']",
      where = Some("{lang: en}"))
    engine
  }

  private val q112StatsView: Q = (s, dir) => {
    val engine = statsFixture(s, dir)
    val filter = "{lang: en}"
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val served = engine.statsPairs(filter, "src")
    val servedRows = collect(served)
    require(engine.lastStatsSource.exists(_.startsWith("view:")),
      s"q112 expected the view route, got ${engine.lastStatsSource}")
    // the view-served pairs must equal a direct corpus computation of
    // the same ask (the scan arm's exact frame, bypassing the router)
    val direct = collect(engine.records
      .filter(graft.filter.FilterAlgebra.compile(filter, col("metadata")))
      .select(graft.memo.MemoOps.rawField("src").as("raw"))
      .filter(col("raw").isNotNull && col("raw") =!= "z")
      .groupBy("raw").agg(count(lit(1)).as("cnt")))
    require(servedRows == direct,
      s"q112 view-served pairs diverged from the scan: " +
        s"$servedRows vs $direct")
    // an uncovered ask (different key) exercises the scan fallback
    engine.statsPairs(filter, "lang").collect()
    require(engine.lastStatsSource.contains("scan"),
      s"q112 expected the scan fallback, got ${engine.lastStatsSource}")
    served.orderBy(col("raw"))
  }

  /** Numeric-ordered clusterBy end-to-end (the r16 layout arm): a
    * store whose INT-typed `num` key is a hash permutation of 0..239
    * (uncorrelated with save order, so nothing prunes pre-layout),
    * rewritten once by `clusterBy("num")` — which detects the
    * all-numeric key off its boundary sample and range-partitions on
    * NUMERIC order (code-point order scatters "9" from "10") — then a
    * numeric band projection. The build asserts the pre-layout is
    * unprunable and the numeric band prunes to ≤ half post-rewrite;
    * the oracle replays the minting rule and the band in DuckDB.
    * BUILD-ONCE per sf-dir; a bench repeat prices the pruned numeric
    * filtered read off the numeric layout. */
  private val q113NumericCluster: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q113ncl", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    if (!java.nio.file.Files.exists(done)) {
      val n = 240
      def yamlOf(ids: Range) = ids.map { i =>
        s"---\nbody: numeric cluster doc $i\n" +
          s"metadata: {num: ${(i * 37) % n}}\n" // 37 ⟂ 240: a permutation
      }.mkString
      if (engine.exists) engine.clean() // torn prior build: start over
      engine.save(yamlOf(0 until n / 2))
      engine.save(yamlOf(n / 2 until n))
      // pinned loudly: the shuffled layout is unprunable on the band …
      val band = "$and: [{num: {$gte: 180}}, {num: {$lte: 239}}]"
      val (k0, t0) = engine.segmentPrune(band)
      require(k0 == t0 && t0 == 2,
        s"q113 expected an unprunable 2-segment pre-layout, got ($k0, $t0)")
      engine.clusterBy("num", nClusters = 8)
      // … and ONE numeric-ordered rewrite prunes the top quarter
      val (k1, t1) = engine.segmentPrune(band)
      require(t1 >= 4 && k1 * 2 <= t1,
        s"q113 expected the numeric layout to prune the band, " +
          s"got ($k1, $t1)")
      java.nio.file.Files.createFile(done)
    }
    engine.analyzeProject(
      "$and: [{num: {$gte: 180}}, {num: {$lte: 239}}]",
      Seq("id", "num"), limit = 300)
  }

  /** The analyze Matched count served from a covering view (the r17
    * extension of the `statsPairs` route): over q112's shared fixture,
    * `analyzeCount({lang: en})` must take the `view:` route — the
    * registered view's `doc_count` is maintained by the same compiled
    * predicate every filtered read takes, so `sum(doc_count)` IS the
    * matched count, O(state) — and must equal the direct corpus count
    * computed with the router bypassed; an uncovered filter must take
    * the scan arm. The oracle replays the lang minting rule in DuckDB,
    * hash-verifying the count itself. */
  private val q114CountFromView: Q = (s, dir) => {
    val engine = statsFixture(s, dir)
    val filter = "{lang: en}"
    val matched = engine.analyzeCount(filter)
    require(engine.lastCountSource.exists(_.startsWith("view:")),
      s"q114 expected the view route, got ${engine.lastCountSource}")
    val direct = engine.records
      .filter(graft.filter.FilterAlgebra.compile(filter, col("metadata")))
      .count()
    require(matched == direct,
      s"q114 view-served count diverged: $matched vs $direct")
    engine.analyzeCount("{src: s1}") // no view covers this filter
    require(engine.lastCountSource.contains("scan"),
      s"q114 expected the scan fallback, got ${engine.lastCountSource}")
    import s.implicits._
    Seq(matched).toDF("matched")
  }

  /** Sharded view-state publish end-to-end (the r17 refresh cost-class
    * fix): a 60-group view over a 240-doc store at a deliberately tiny
    * shard target (8 rows), refreshed by a ONE-doc append inside the
    * build pass. The build REQUIRES the refresh was incremental AND the
    * publish seam shows untouched shards carried by REFERENCE (written ≤
    * 2 of ≥ 4 shards) — the O(touched shards) claim — and that the
    * sharded state equals a direct group-by with the view machinery
    * bypassed. The oracle replays the minting rules over all 241 docs in
    * DuckDB, so the carried+written shard UNION is hash-verified.
    * BUILD-ONCE per sf-dir; a bench repeat prices the manifest-resolved
    * sharded state read. */
  private val q115ShardedView: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q115shard", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s,
      base.resolve("db").toString, viewShardRows = 8)
    val measures = Seq("wsum" -> "substring(metadata['w'], 2)")
    def view() = engine.viewState("bigv", "metadata['g']", measures)
    def yamlOf(ids: Range) = ids.map { i =>
      s"---\nbody: sharded view doc $i\n" +
        s"metadata: {g: g${i % 60}, w: ${(i * 37) % 101}}\n"
    }.mkString
    if (!java.nio.file.Files.exists(done)) {
      if (engine.exists) engine.clean() // torn prior build: start over
      engine.save(yamlOf(0 until 120))
      engine.save(yamlOf(120 until 240))
      view().collect()
      val (w0, _) = engine.lastViewPublish.get
      require(w0 >= 4,
        s"q115 expected ≥ 4 shards from 60 groups at target 8, got $w0")
      engine.save(yamlOf(240 until 241)) // ONE doc, one touched group
      val served = view().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      require(engine.lastViewRefresh.exists(_._1 == "incremental"),
        s"q115 expected an incremental refresh, " +
          s"got ${engine.lastViewRefresh.map(_._1)}")
      val (w1, c1) = engine.lastViewPublish.get
      require(w1 <= 2 && c1 >= w0 - 2,
        s"q115 expected a narrow publish with carried shards, " +
          s"got (wrote=$w1, carried=$c1)")
      val direct = engine.records
        .groupBy(expr("metadata['g']").cast("string").as("group_key"))
        .agg(count(lit(1)).as("doc_count"),
          sum(coalesce(expr("try_cast(substring(metadata['w'], 2) " +
            "AS BIGINT)"), lit(0L))).as("wsum"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      require(served == direct,
        s"q115 sharded state diverged from the direct group-by")
      java.nio.file.Files.createFile(done)
    }
    view().orderBy(col("group_key"))
  }

  /** Drift → retrain → exact serving, end-to-end (the r17 maintenance
    * family): 120 diverse seed docs train the quantizer, 120 appended
    * docs from a 16-subtopic drifted distribution pile into its nearest
    * cells, and the build pass REQUIRES the whole policy — the stored
    * skew statistic rose, `retrainIvf` fired at the threshold and
    * lowered it, the post-retrain occupancy sums to the corpus (the
    * double-count detector), and full-probe `annRecall` equals filtered
    * brute force. The served id set at full probe with k ≥ corpus is
    * every indexed doc (floor guarded non-binding at build — all bodies
    * share no strongly-negative direction), so DuckDB replays it as the
    * full ordinal range. BUILD-ONCE per sf-dir; a bench repeat prices
    * one full-probe serve off the retrained artifact. */
  private val q116RetrainServe: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q116retrain", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    def yamlSeed(ids: Range) = ids.map(i =>
      s"---\nbody: seed topic$i theme${i % 13} subject${i % 29} " +
        s"facet$i\n").mkString
    def yamlDrift(ids: Range) = ids.map(i =>
      s"---\nbody: drifted corpus subtopic${i % 16} marker${i % 16} " +
        s"recurring phrase detail$i\n").mkString
    if (!java.nio.file.Files.exists(done)) {
      if (engine.exists) engine.clean() // torn prior build: start over
      engine.save(yamlSeed(0 until 24))
      engine.save(yamlSeed(24 until 48))
      engine.annRecall("seed topic1 theme1", k = 3).collect() // train
      engine.save(yamlDrift(48 until 72))
      engine.save(yamlDrift(72 until 96))
      engine.annRecall("seed topic1 theme1", k = 3).collect() // catch-up
      val skew1 = engine.ivfSkew().getOrElse(0.0)
      require(skew1 > 2.0,
        s"q116 expected the drifted appends to raise the skew, got $skew1")
      require(!engine.retrainIvf(maxSkew = skew1 + 1.0),
        "q116 below-threshold retrain must not fire")
      require(engine.retrainIvf(maxSkew = 2.0),
        "q116 retrain must fire past the threshold")
      val skew2 = engine.ivfSkew().getOrElse(Double.MaxValue)
      require(skew2 < skew1,
        s"q116 retrain must lower the skew: $skew1 -> $skew2")
      val occ = graft.ops.IvfIndex.readOccupancy(s,
        base.resolve("db").resolve("_ann").toString).get
      require(occ.sum == 96L,
        s"q116 occupancy ${occ.sum} != corpus 96 after retrain")
      // floor guard + route parity: full-probe ANN == filtered brute
      // force, and brute fills the whole corpus (the id-set oracle is
      // sound only then)
      val viaBrute = engine.recall("drifted corpus subtopic3 marker3",
        k = 100).collect().map(_.getLong(0)).toSet
      require(viaBrute.size == 96,
        s"q116 floor guard failed: brute filled ${viaBrute.size} of 96")
      val viaAnn = engine.annRecall("drifted corpus subtopic3 marker3",
        k = 100, nprobe = 4096).collect()
        .map(_.getLong(0)).toSet
      require(viaAnn == viaBrute,
        "q116 full-probe ANN diverged from brute after retrain")
      java.nio.file.Files.createFile(done)
    }
    import s.implicits._
    engine.annRecall("drifted corpus subtopic3 marker3", k = 100,
        nprobe = 4096)
      .select(col("id")).orderBy(col("id"))
  }

  /** The engine-maintained duplicate-group labeling end-to-end (the r17
    * late dedup family): 90 docs in 30 identical-text triplets, saved as
    * 58 + 32 so cluster 19 SPANS the append boundary (ids 57 old, 58-59
    * new — the fold must label an old-new edge, new-new edges, and a
    * previously single-member group). The build REQUIRES the first walk
    * rebuilt, the second FOLDED (append arm), and that the fold equals
    * `nearDupClusters` recomputed from scratch over the live corpus.
    * Distinct clusters share no shingle (every 3-word window carries a
    * cluster-numbered token), so the group set is exactly the minted
    * triplets and DuckDB replays it as (id, id/3*3). BUILD-ONCE per
    * sf-dir; a bench repeat prices one fresh labeling serve (two
    * metadata reads + the parquet scan). */
  private val q119DupGroups: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q119dups", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    def yamlOf(ids: Range) = ids.map { i =>
      val k = i / 3
      // every token carries k, so every 3-token shingle does too —
      // cluster shingle sets are DISJOINT and no cross-cluster pair can
      // pass the signature check (a SHARED shingle in a tiny shingle set
      // can dominate the min for most k under the linear double-hashing
      // family and inflate est_jaccard — see minHashSignature's caveat)
      s"---\nbody: item$k alpha$k beta$k gamma$k delta$k epsilon$k\n"
    }.mkString
    if (!java.nio.file.Files.exists(done)) {
      if (engine.exists) engine.clean() // torn prior build: start over
      engine.save(yamlOf(0 until 58))
      engine.dupGroups().collect()
      require(engine.lastDupMode.contains("rebuild"),
        s"q119 expected the first walk to rebuild, got ${engine.lastDupMode}")
      engine.save(yamlOf(58 until 90))
      val folded = engine.dupGroups().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(engine.lastDupMode.contains("append"),
        s"q119 expected the append fold, got ${engine.lastDupMode}")
      val scratch = graft.ops.Dedup.nearDupClusters(
          engine.records.select(col("id"), col("body")), "id", "body")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(folded == scratch,
        "q119 fold diverged from the from-scratch labeling")
      require(folded == (0L until 90L).map(i => i -> (i / 3) * 3).toMap,
        "q119 labeling is not the minted triplet set")
      java.nio.file.Files.createFile(done)
    }
    engine.dupGroups().orderBy(col("id"))
  }

  /** Keep-one-per-duplicate-group compaction ([[graft.memo.MemoEngine
    * .dedupCompact]]): q119's minted triplet clusters (ids 3k..3k+2
    * share a shingle-disjoint body) plus one soft-DELETED unique doc
    * compact in ONE versioned commit — every group keeps its smallest
    * member, the deleted row drops with them (reindex's drop set,
    * generalized), and ids re-sequence dense. The build REQUIRES the
    * drop count (60 duplicates + 1 deleted), an EMPTY post-compact
    * labeling (the artifact families converge through the rewrite),
    * and a survivor count of 30; the oracle replays the survivor set —
    * body of old id 3k at new id k — so the hash pins both the keep
    * rule and the re-sequencing. BUILD-ONCE per sf-dir. */
  private val q120DedupCompact: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q120dedup", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    if (!java.nio.file.Files.exists(done)) {
      if (engine.exists) engine.clean() // torn prior build: start over
      engine.save((0 until 90).map { i =>
        val k = i / 3
        s"---\nbody: item$k alpha$k beta$k gamma$k delta$k epsilon$k\n"
      }.mkString +
        "---\nbody: soon gone unique filler\nmetadata: {deleted: true}\n")
      val dropped = engine.dedupCompact()
      require(dropped == 61,
        s"q120 expected 60 duplicates + 1 deleted dropped, got $dropped")
      require(engine.dupGroups().isEmpty,
        "q120 post-compact labeling must be empty — every group is one doc")
      require(engine.records.count() == 30,
        "q120 expected 30 surviving docs")
      java.nio.file.Files.createFile(done)
    }
    engine.records.select(col("id"), col("body")).orderBy(col("id"))
  }

  /** MAINTAINED PERCENTILE view measures end-to-end (the r20
    * dictionary-reserve extension — the last loudly-rejected aggregate
    * family in the view surface): the q102 store shape (dense ids over
    * the first 300 docs, three segments, tag t{id%4}, integer metadata
    * w = (id·37)%101) with exact MEDIAN and P90 measures riding the
    * bounded per-group value→multiplicity histogram (per-view cap 128 —
    * ~75 distinct values per group stays covered). A CDC patch moves
    * the middle third's %10 rows onto a NEW value (999 — a histogram
    * insert + a covered retraction of their old value) and removes the
    * last third's %25 ids (multiplicity-covered retractions), and the
    * refresh is asserted INCREMENTAL — the exact percentiles retract
    * through the dictionary, never a rescan. The oracle replays
    * minting, both patch rules, and DuckDB's own
    * percentile_disc(0.5/0.9) — the integer cume_dist walk both
    * engines share. */
  private val q121ViewPercentile: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q121pct", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val buildPass = !java.nio.file.Files.exists(done)
    val wExpr = "regexp_extract(metadata['w'], '^i?(-?\\\\d+)$', 1)"
    val measures = Seq("w_med" -> wExpr, "w_p90" -> wExpr)
    val aggs = Map("w_med" -> "median", "w_p90" -> "p90")
    def view() = engine.viewState("pctw",
      "substring(metadata['tag'], 2)", measures, aggs,
      distinctCap = Some(128))
    if (buildPass) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      val n = docs.length
      val third = (n / 3).max(1)
      def w(i: Int) = (i * 37) % 101
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q121 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          s"---\nbody: $t\nmetadata: {tag: t${i % 4}, w: ${w(i)}}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(third).foreach(g => engine.save(yamlOf(g.toSeq)))
      view()
      import s.implicits._
      val updates = (third until 2 * third).filter(_ % 10 == 0)
        .map(i => (i.toLong, "updated", s"patched $i",
          Map("tag" -> s"st${i % 4}", "w" -> "i999")))
      val removes = (2 * third until n).filter(_ % 25 == 0)
        .map(i => (i.toLong, "removed", "", Map.empty[String, String]))
      val feed = (updates ++ removes)
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L))
      engine.applyChanges(feed)
      java.nio.file.Files.createFile(done)
    }
    val out = view()
    // pinned loudly: percentile maintenance must ride the O(delta)
    // dictionary arm — "rebuild"/"incremental_rescan" would mean the
    // covered retractions silently degraded the view family's cost class
    if (buildPass) {
      val mode = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(mode == "incremental",
        s"q121 expected an incremental percentile refresh, got $mode")
    }
    out.orderBy("group_key")
  }

  /** Exact percentiles on the ANALYZE/STATS surface (the r20 companion
    * to q121's view measures — A9's numeric rollup, memo_cli.py:599-617,
    * completed with maintained quantiles): 300 docs, the first 201
    * carrying `{flt: f1, w: (id·53)%257}` (53 is invertible mod 257, so
    * the 201 values are distinct and every percentile position
    * p×(N−1) ∈ {50, 100, 180} lands EXACTLY on a data point — no
    * interpolation, so the DOUBLE compare against DuckDB is
    * bit-exact). The query runs the ask on BOTH serving arms — the
    * segment-pruned scan, then again after registering a covering
    * WHERE-scoped view (`metadata['w']` grouped, the statsPairs
    * coverage rule) — requires the route seam took each arm and the
    * results match, and returns the view-served frame. The oracle
    * replays minting and DuckDB's quantile_cont. */
  private val q122StatsPercentile: Q = (s, dir) => {
    val base = java.nio.file.Paths.get(
      SessionHandles.tmpArtifactPath("q122sp", dir))
    val done = base.resolve("_done")
    val engine = new graft.memo.MemoEngine(s, base.resolve("db").toString)
    val ask = "{flt: f1}"
    val percents = Seq(0.25, 0.5, 0.9)
    if (!java.nio.file.Files.exists(done)) {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), col("text")).orderBy("doc_id").limit(300)
        .collect() // bounded by construction: ≤300 rows at any SF
      def yamlOf(rows: Seq[(String, Int)]) = {
        rows.map(_._1).find(t => t.exists(c => c == '\n' || c == '\r'))
          .foreach(t => throw new IllegalStateException(
            s"q122 fixture text contains a newline: ${t.take(80)}"))
        rows.map { case (t, i) =>
          if (i < 201)
            s"---\nbody: $t\nmetadata: {flt: f1, w: ${(i * 53) % 257}}\n"
          else s"---\nbody: $t\nmetadata: {flt: f0}\n"
        }.mkString
      }
      if (engine.exists) engine.clean() // torn prior build: start over
      docs.zipWithIndex.map { case (r, i) => (r.getString(1), i) }
        .grouped(100).foreach(g => engine.save(yamlOf(g.toSeq)))
      java.nio.file.Files.createFile(done)
    }
    // scan arm first (no covering view yet on the build pass; on replay
    // passes the view exists, so only pin the arm when it CAN be pinned)
    val viewless = !engine.views.contains("spw")
    val scanned = engine.analyzePercentiles(ask, "w", percents)
      .orderBy("percent").collect()
    if (viewless) require(
      engine.lastStatsSource.contains("scan"),
      s"q122 expected the scan arm, got ${engine.lastStatsSource}")
    // covering view: same where, groupKey = metadata['w'] → the pairs
    // ARE its state and the ask serves O(state)
    engine.viewState("spw", "metadata['w']", Seq.empty, Map.empty,
      where = Some(ask)).count()
    val served = engine.analyzePercentiles(ask, "w", percents)
    val viaView = served.orderBy("percent").collect()
    require(engine.lastStatsSource.exists(_.startsWith("view:")),
      s"q122 expected the view arm, got ${engine.lastStatsSource}")
    require(viaView.map(r => (r.getDouble(0), r.getDouble(1))).toSeq ==
      scanned.map(r => (r.getDouble(0), r.getDouble(1))).toSeq,
      "q122 view-served percentiles diverged from the scan arm")
    served.orderBy("percent")
  }

  val defs: Map[String, Q] = Map(
    "q20_analyze_count" -> q20AnalyzeCount,
    "q21_analyze_project" -> q21AnalyzeProject,
    "q22_stats_top4" -> q22StatsTop4,
    "q23_stats_numeric" -> q23StatsNumeric,
    "q25_cardinality" -> q25Cardinality,
    "q26_filter_contains" -> q26FilterContains,
    "q27_filter_or" -> q27FilterOr,
    "q28_filter_ne" -> q28FilterNe,
    "q29_filter_and_range" -> q29FilterAndRange,
    "q71_recall" -> q71Recall,
    "q72_reindex" -> q72Reindex,
    "q73_append_ids" -> q73AppendIds,
    "q78_delete_truthiness" -> q78DeleteTruthiness,
    "q95_changefeed" -> q95Changefeed,
    "q96_cdc_outbox" -> q96CdcOutbox,
    "q97_patch_merge" -> q97PatchMerge,
    "q98_view_incremental" -> q98IncrView,
    "q99_view_extremes" -> q99ViewExtremes,
    "q100_meta_skip" -> q100MetaSkip,
    "q101_filtered_ann" -> q101FilteredAnn,
    "q102_view_avg" -> q102ViewAvg,
    "q104_zorder_skip" -> q104ZorderSkip,
    "q105_view_distinct" -> q105ViewDistinct,
    "q107_view_filtered" -> q107ViewFiltered,
    "q109_view_count" -> q109ViewCount,
    "q111_hybrid_serve" -> q111HybridServe,
    "q112_stats_view" -> q112StatsView,
    "q113_numeric_cluster" -> q113NumericCluster,
    "q114_count_from_view" -> q114CountFromView,
    "q115_sharded_view" -> q115ShardedView,
    "q116_retrain_serve" -> q116RetrainServe,
    "q119_dup_groups" -> q119DupGroups,
    "q120_dedup_compact" -> q120DedupCompact,
    "q121_view_percentile" -> q121ViewPercentile,
    "q122_stats_percentile" -> q122StatsPercentile,
  )

  val oracles: Map[String, String] = Map(
    "q20_analyze_count" ->
      "SELECT count(*) AS matched FROM documents WHERE lang = 'en' AND n_chars >= 200",
    "q21_analyze_project" ->
      """SELECT doc_id AS id, lang, source FROM documents
        |WHERE source LIKE 'src1%' ORDER BY id LIMIT 50 OFFSET 5""".stripMargin,
    "q22_stats_top4" ->
      """WITH counts AS (
        |  SELECT source AS value, count(*) AS cnt FROM documents GROUP BY source),
        |top AS (SELECT value, cnt FROM counts ORDER BY cnt DESC, value LIMIT 4)
        |SELECT value, cnt FROM top
        |UNION ALL
        |SELECT 'other' AS value, CAST(sum(cnt) AS BIGINT) AS cnt FROM counts
        |WHERE value NOT IN (SELECT value FROM top)
        |ORDER BY cnt DESC, value""".stripMargin,
    "q23_stats_numeric" ->
      """SELECT floor((min(CAST(n_chars AS DOUBLE)))*100.0 + 0.5)/100.0 AS vmin,
        | floor((max(CAST(n_chars AS DOUBLE)))*100.0 + 0.5)/100.0 AS vmax,
        | floor((avg(CAST(n_chars AS DOUBLE)))*100.0 + 0.5)/100.0 AS vavg
        |FROM documents WHERE lang = 'en'""".stripMargin,
    "q25_cardinality" ->
      "SELECT count(DISTINCT source) AS n_distinct FROM documents WHERE lang = 'en'",
    "q26_filter_contains" ->
      """SELECT doc_id AS id FROM documents
        |WHERE (lang = 'en' OR source = 'en') AND n_chars >= 100
        |ORDER BY id""".stripMargin,
    "q27_filter_or" ->
      """SELECT doc_id AS id FROM documents
        |WHERE lang = 'de' OR source LIKE 'src1%' ORDER BY id""".stripMargin,
    "q28_filter_ne" ->
      """SELECT doc_id AS id FROM documents
        |WHERE CAST(n_chars AS VARCHAR) <> '200' AND lang <> 'en'
        |ORDER BY id""".stripMargin,
    "q29_filter_and_range" ->
      """SELECT doc_id AS id FROM documents
        |WHERE n_chars >= 100 AND n_chars <= 300 ORDER BY id""".stripMargin,
    "q71_recall" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |pairs AS (SELECT e.vec_id AS id, unnest(e.embedding) AS x,
        |            unnest(q.qe) AS y
        |          FROM embeddings e CROSS JOIN q),
        |scores AS (SELECT id,
        |    sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE)) /
        |    (sqrt(sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) *
        |     sqrt(sum(CAST(y AS DOUBLE)*CAST(y AS DOUBLE)))) AS raw
        |  FROM pairs GROUP BY id)
        |SELECT s.id, round(s.raw, 4) AS score
        |FROM scores s JOIN documents d ON d.doc_id = s.id
        |WHERE d.lang = 'en' AND s.raw >= -0.9 AND trim(d.text) <> ''
        |ORDER BY score DESC, id LIMIT 10""".stripMargin,
    "q72_reindex" ->
      """SELECT row_number() OVER (ORDER BY doc_id) - 1 AS new_id,
        | doc_id AS old_id
        |FROM documents WHERE doc_id % 7 <> 0 ORDER BY old_id""".stripMargin,
    "q73_append_ids" ->
      """SELECT (SELECT max(doc_id) FROM documents)
        |   + row_number() OVER (ORDER BY doc_id) AS new_id,
        | doc_id AS old_id
        |FROM documents WHERE source = 'src5' ORDER BY old_id""".stripMargin,
    // q78 truth table: deleted ⟺ Python-truthy metadata.deleted OR the
    // body-YAML variant. By construction of the query's id-derived variants:
    //   id%4==0 → int id%3==0?1:0 (truthy iff 1)
    //   id%4==1 → "false" if id%3==0 (non-empty ⇒ TRUTHY) else "" (falsy)
    //   id%4==2 → bool id%3==0
    //   id%4==3 → None (falsy)
    //   body "deleted: true" iff id%10==7
    // ⇒ deleted ⟺ (id%4<3 AND id%3==0) OR id%10==7
    "q78_delete_truthiness" ->
      """SELECT row_number() OVER (ORDER BY doc_id) - 1 AS new_id,
        | doc_id AS old_id
        |FROM documents
        |WHERE NOT ((doc_id % 4 < 3 AND doc_id % 3 = 0) OR doc_id % 10 = 7)
        |ORDER BY old_id""".stripMargin,
    // q95 truth table, by construction of the derived `to` state:
    //   %13==0 → dropped (removed, original body)
    //   else %7==0 → body rewritten (updated, "redacted <id>")
    //   else %11==0 → metadata-only flag injected (updated, original body)
    //   %17==0 → re-keyed copy appended at id+1e8 (added, original body)
    //   anything else → must NOT surface
    "q95_changefeed" ->
      """WITH changed AS (
        |  SELECT doc_id AS id, 'removed' AS change, text AS body
        |  FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id AS id, 'updated' AS change,
        |    CASE WHEN doc_id % 7 = 0 THEN 'redacted ' || doc_id
        |         ELSE text END AS body
        |  FROM documents
        |  WHERE doc_id % 13 <> 0 AND (doc_id % 7 = 0 OR doc_id % 11 = 0)
        |  UNION ALL
        |  SELECT doc_id + 100000000 AS id, 'added' AS change, text AS body
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT id, change, body FROM changed ORDER BY id""".stripMargin,
    "q96_cdc_outbox" ->
      """WITH lim AS (
        |  SELECT text, row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT * FROM documents ORDER BY doc_id LIMIT 300)),
        |cut AS (SELECT (count(*) * 2) // 3 AS c FROM lim),
        |feed AS (
        |  SELECT CAST(0 AS BIGINT) AS commit_version, id, 'added' AS change,
        |    text AS body FROM lim, cut WHERE id < c
        |  UNION ALL
        |  SELECT 1, id, 'added', text FROM lim, cut WHERE id >= c
        |  UNION ALL
        |  SELECT 2, id, 'updated', 'redacted ' || id FROM lim WHERE id % 9 = 0)
        |SELECT commit_version, id, change, body FROM feed
        |ORDER BY commit_version, id""".stripMargin,
    "q97_patch_merge" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id, text
        |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d)
        |SELECT d.id,
        |  CASE WHEN d.id >= p.third AND d.id < 2 * p.third AND d.id % 10 = 0
        |    THEN 'patched ' || CAST(d.id AS VARCHAR) ELSE d.text END AS body
        |FROM d, p
        |WHERE NOT (d.id >= 2 * p.third AND d.id % 25 = 0)
        |ORDER BY d.id""".stripMargin,
    // q98 replay: dense minting over the first 300 docs (id = rank−1),
    // initial tag t{id%4}; the patch batch rewrites body + moves tag→t9
    // for id∈[third,2·third) with id%10=0 and drops id≥2·third with
    // id%25=0; the view is the group-by over the surviving state.
    // size(split(body,' ')) ≡ len(string_split(...)): both keep empty
    // parts between consecutive separators and at the ends.
    "q98_view_incremental" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id, text
        |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d),
        |state AS (
        |  SELECT
        |    CASE WHEN d.id >= p.third AND d.id < 2 * p.third AND d.id % 10 = 0
        |      THEN 't9' ELSE 't' || CAST(d.id % 4 AS VARCHAR) END AS group_key,
        |    CASE WHEN d.id >= p.third AND d.id < 2 * p.third AND d.id % 10 = 0
        |      THEN 'patched ' || CAST(d.id AS VARCHAR) ELSE d.text END AS body
        |  FROM d, p
        |  WHERE NOT (d.id >= 2 * p.third AND d.id % 25 = 0))
        |SELECT group_key, count(*) AS doc_count,
        |  CAST(sum(length(body)) AS BIGINT) AS chars,
        |  CAST(sum(len(string_split(body, ' '))) AS BIGINT) AS toks
        |FROM state GROUP BY group_key ORDER BY group_key""".stripMargin,
    // q99 replay: weights are (id·37) mod 101 with tag t{id%4}; the batch
    // zeroes the %10 ids in the middle third (except the champion) and
    // removes group t0's champion — the smallest id holding that group's
    // max weight, the same argmax the Spark fixture computes.
    "q99_view_extremes" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d),
        |w0 AS (SELECT id, (id * 37) % 101 AS w, id % 4 AS g FROM d),
        |champ AS (
        |  SELECT min(id) AS cid FROM w0
        |  WHERE g = 0 AND w = (SELECT max(w) FROM w0 WHERE g = 0)),
        |state AS (
        |  SELECT 't' || CAST(w0.g AS VARCHAR) AS group_key,
        |    CASE WHEN w0.id >= p.third AND w0.id < 2 * p.third
        |          AND w0.id % 10 = 0
        |      THEN 0 ELSE w0.w END AS w
        |  FROM w0, p, champ
        |  WHERE w0.id <> champ.cid)
        |SELECT group_key, count(*) AS doc_count,
        |  CAST(max(w) AS BIGINT) AS wmax,
        |  CAST(min(w) AS BIGINT) AS wmin
        |FROM state GROUP BY group_key ORDER BY group_key""".stripMargin,
    // q100 replay: dense minting (id = rank−1) over the first 300 docs,
    // part = min(id // third, 2) — the filtered projection keeps the
    // middle third. The LIMIT mirrors the Spark-side pagination bound
    // (never binding at n ≤ 300).
    "q100_meta_skip" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d)
        |SELECT d.id, 'p1' AS part FROM d, p
        |WHERE least(d.id // p.third, 2) = 1
        |ORDER BY d.id LIMIT 200""".stripMargin,
    // q113 replay: the numeric-cluster minting rule (num = i·37 mod 240,
    // a permutation) and the band projection; the numeric-order layout
    // and its pruning are build-time requires (layout never changes
    // results), so the hash pins the band's exact (id, num) rows.
    "q113_numeric_cluster" ->
      """WITH d AS (SELECT CAST(range AS BIGINT) AS i FROM range(240)),
        |m AS (SELECT i AS id, (i * 37) % 240 AS num FROM d)
        |SELECT id, CAST(num AS VARCHAR) AS num FROM m
        |WHERE num >= 180 AND num <= 239
        |ORDER BY id LIMIT 300""".stripMargin,
    // q114 replay: the lang minting rule — the Matched count under
    // {lang: en} is the non-sw ordinals. The query REQUIRES the count
    // came from the covering view's doc_count (route seam) and equals
    // the router-bypassed scan, so this hash pins the view-served count.
    "q114_count_from_view" ->
      """WITH d AS (SELECT CAST(range AS BIGINT) AS i FROM range(240))
        |SELECT count(*) AS matched FROM d WHERE i % 3 <> 0""".stripMargin,
    // q115 replay: the sharded-view minting rules over all 241 docs
    // (240 built + the one-doc append the build pass refreshes through).
    // The build REQUIRES the refresh publish wrote ≤ 2 shards and
    // carried the rest by reference, so this hash pins the
    // carried+written shard UNION the manifest serves.
    "q115_sharded_view" ->
      """WITH d AS (SELECT CAST(range AS BIGINT) AS i FROM range(241))
        |SELECT 'sg' || CAST(i % 60 AS VARCHAR) AS group_key,
        |  count(*) AS doc_count,
        |  CAST(sum((i * 37) % 101) AS BIGINT) AS wsum
        |FROM d GROUP BY 1 ORDER BY group_key""".stripMargin,
    // q116 replay: at full probe with k ≥ corpus the retrained index
    // serves every indexed doc (floor guarded non-binding at build; the
    // drift/retrain/occupancy/parity requires run IN the query), so the
    // id set is the full ordinal range (96 docs — recall's MaxK=100
    // keeps the brute floor guard fillable) — the q101/q111 id-set
    // argument on the maintenance family.
    "q116_retrain_serve" ->
      """SELECT CAST(range AS BIGINT) AS id FROM range(96)
        |ORDER BY id""".stripMargin,
    // q119 replay: the minted triplet clusters — the build pass REQUIRED
    // the labeling to come from an incremental FOLD equal to the
    // from-scratch recompute, so this hash pins the maintained artifact.
    "q119_dup_groups" ->
      """SELECT CAST(range AS BIGINT) AS id,
        | CAST((range // 3) * 3 AS BIGINT) AS component
        |FROM range(90) ORDER BY id""".stripMargin,
    // q120 replay: the survivor set of the keep-one-per-group
    // compaction — one doc per minted cluster, dense re-sequenced, so
    // new id k carries old id 3k's body. The build pass REQUIRED the
    // drop count and the empty post-compact labeling, so this hash
    // pins the keep rule AND the re-sequencing.
    "q120_dedup_compact" ->
      """SELECT CAST(range AS BIGINT) AS id,
        | 'item' || CAST(range AS VARCHAR) ||
        | ' alpha' || CAST(range AS VARCHAR) ||
        | ' beta' || CAST(range AS VARCHAR) ||
        | ' gamma' || CAST(range AS VARCHAR) ||
        | ' delta' || CAST(range AS VARCHAR) ||
        | ' epsilon' || CAST(range AS VARCHAR) AS body
        |FROM range(30) ORDER BY id""".stripMargin,
    // q112 replay: the stats-pairs minting rules — doc ordinal mints
    // (lang, src), the en rows group by src, raw values are the typed
    // 's'-prefixed encodings. The query REQUIRES the pairs came from
    // the registered view's state (route seam) and equal the direct
    // scan, so this hash pins the O(delta)-maintained rollup itself.
    "q112_stats_view" ->
      """WITH d AS (SELECT CAST(range AS BIGINT) AS i FROM range(240))
        |SELECT 'ss' || CAST(i % 7 AS VARCHAR) AS raw, count(*) AS cnt
        |FROM d WHERE i % 3 <> 0
        |GROUP BY 1 ORDER BY raw""".stripMargin,
    // q111 replay: q101's argument lifted to the hybrid front door —
    // perList ≥ survivors at full probe makes every semantic arm the
    // exact survivor ranking (floor guarded non-binding at build), the
    // fused id set is the survivor set whatever the route, and the
    // route-parity requires run INSIDE the query. 240-doc fixture.
    "q111_hybrid_serve" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id, text
        |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 240)),
        |p AS (SELECT count(*) // 3 AS third FROM d)
        |SELECT d.id FROM d, p
        |WHERE least(d.id // p.third, 2) = 1
        |  AND d.text IS NOT NULL
        |  AND trim(regexp_replace(d.text, '\s+', ' ', 'g')) <> ''
        |ORDER BY d.id""".stripMargin,
    // q101 replay: the filtered ANN fill contract — k exceeds the
    // survivor count and widening probes every cell, so the result is
    // exactly the p1 third's NON-BLANK rows (blank bodies are never
    // indexed; the blank rule is q34's). Scores are engine hash-embed
    // cosines (not SQL-expressible) and deliberately not emitted.
    "q101_filtered_ann" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id, text
        |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d)
        |SELECT d.id FROM d, p
        |WHERE least(d.id // p.third, 2) = 1
        |  AND d.text IS NOT NULL
        |  AND trim(regexp_replace(d.text, '\s+', ' ', 'g')) <> ''
        |ORDER BY d.id""".stripMargin,
    // q102 replay: q99's weights with q98's patch rules — zero the
    // middle third's %10 weights, drop the last third's %25 ids — then
    // the group-by with the served DOUBLE division (one IEEE divide of
    // the exact BIGINT sum by the exact count, bit-identical in both
    // engines).
    "q102_view_avg" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d),
        |w0 AS (SELECT id, (id * 37) % 101 AS w, id % 4 AS g FROM d),
        |state AS (
        |  SELECT 't' || CAST(w0.g AS VARCHAR) AS group_key,
        |    CASE WHEN w0.id >= p.third AND w0.id < 2 * p.third
        |          AND w0.id % 10 = 0
        |      THEN 0 ELSE w0.w END AS w
        |  FROM w0, p
        |  WHERE NOT (w0.id >= 2 * p.third AND w0.id % 25 = 0))
        |SELECT group_key, count(*) AS doc_count,
        |  CAST(sum(w) AS BIGINT) AS w_sum,
        |  CAST(sum(w) AS DOUBLE) / count(*) AS w_avg
        |FROM state GROUP BY group_key ORDER BY group_key""".stripMargin,
    "q122_stats_percentile" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300)),
        |w AS (SELECT (id * 53) % 257 AS w FROM d WHERE id < 201)
        |SELECT CAST(0.25 AS DOUBLE) AS percent,
        |  CAST(quantile_cont(w, 0.25) AS DOUBLE) AS value FROM w
        |UNION ALL SELECT CAST(0.5 AS DOUBLE),
        |  CAST(quantile_cont(w, 0.5) AS DOUBLE) FROM w
        |UNION ALL SELECT CAST(0.9 AS DOUBLE),
        |  CAST(quantile_cont(w, 0.9) AS DOUBLE) FROM w
        |ORDER BY percent""".stripMargin,
    "q121_view_percentile" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d),
        |w0 AS (SELECT id, (id * 37) % 101 AS w, id % 4 AS g FROM d),
        |state AS (
        |  SELECT 't' || CAST(w0.g AS VARCHAR) AS group_key,
        |    CASE WHEN w0.id >= p.third AND w0.id < 2 * p.third
        |          AND w0.id % 10 = 0
        |      THEN 999 ELSE w0.w END AS w
        |  FROM w0, p
        |  WHERE NOT (w0.id >= 2 * p.third AND w0.id % 25 = 0))
        |SELECT group_key, count(*) AS doc_count,
        |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY w) AS BIGINT)
        |    AS w_med,
        |  CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY w) AS BIGINT)
        |    AS w_p90
        |FROM state GROUP BY group_key ORDER BY group_key""".stripMargin,
    // q105 replay: q102's minting and patch-rule shape on the src key —
    // the middle third's %10 rows move to source c9, the last third's
    // %25 ids drop — then the group-by with the exact distinct count
    // (nulls can't occur by construction; both engines count the same
    // string values).
    "q105_view_distinct" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d),
        |state AS (
        |  SELECT 't' || CAST(d.id % 4 AS VARCHAR) AS group_key,
        |    CASE WHEN d.id >= p.third AND d.id < 2 * p.third
        |          AND d.id % 10 = 0
        |      THEN 'c9' ELSE 'c' || CAST((d.id * 13) % 7 AS VARCHAR)
        |    END AS src
        |  FROM d, p
        |  WHERE NOT (d.id >= 2 * p.third AND d.id % 25 = 0))
        |SELECT group_key, count(*) AS doc_count,
        |  CAST(count(DISTINCT src) AS BIGINT) AS n_src
        |FROM state GROUP BY group_key ORDER BY group_key""".stripMargin,
    // q107 replay: dense minting, grp by thirds, then both crossing
    // rules — middle-third %10 rows left g1, first-third %7 rows
    // entered it with body 'in ' || id — and the PREDICATE-scoped
    // group-by over the final state.
    "q107_view_filtered" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id, text
        |  FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d),
        |state AS (
        |  SELECT 't' || CAST(d.id % 4 AS VARCHAR) AS group_key,
        |    CASE WHEN d.id < p.third AND d.id % 7 = 0
        |      THEN 'in ' || CAST(d.id AS VARCHAR) ELSE d.text END AS body,
        |    CASE
        |      WHEN d.id < p.third THEN
        |        (CASE WHEN d.id % 7 = 0 THEN 'g1' ELSE 'g0' END)
        |      WHEN d.id < 2 * p.third THEN
        |        (CASE WHEN d.id % 10 = 0 THEN 'g9' ELSE 'g1' END)
        |      ELSE 'g2' END AS grp
        |  FROM d, p)
        |SELECT group_key, count(*) AS doc_count,
        |  CAST(sum(length(body)) AS BIGINT) AS chars
        |FROM state WHERE grp = 'g1'
        |GROUP BY group_key ORDER BY group_key""".stripMargin,
    // q109 replay: dense minting; opt present iff id%3==0, EXCEPT the
    // middle third's patch rules (id%6==0 dropped it, id%6==1 gained
    // it); first-third %25 ids removed — then the group-by with SQL
    // COUNT(opt) null-skip semantics.
    "q109_view_count" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300)),
        |p AS (SELECT count(*) // 3 AS third FROM d),
        |state AS (
        |  SELECT 't' || CAST(d.id % 4 AS VARCHAR) AS group_key,
        |    CASE
        |      WHEN d.id >= p.third AND d.id < 2 * p.third
        |        AND d.id % 6 = 0 THEN 0
        |      WHEN d.id >= p.third AND d.id < 2 * p.third
        |        AND d.id % 6 = 1 THEN 1
        |      WHEN d.id % 3 = 0 THEN 1 ELSE 0 END AS has_opt
        |  FROM d, p
        |  WHERE NOT (d.id < p.third AND d.id % 25 = 0))
        |SELECT group_key, count(*) AS doc_count,
        |  CAST(sum(has_opt) AS BIGINT) AS n_opt
        |FROM state GROUP BY group_key ORDER BY group_key""".stripMargin,
    // q104 replay: dense minting, kb = b{(id // 4) mod 4} — the filtered
    // projection keeps kb = b2. The LIMIT mirrors the Spark-side
    // pagination bound (never binding at n ≤ 300).
    "q104_zorder_skip" ->
      """WITH d AS (
        |  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS id
        |  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 300))
        |SELECT d.id, 'b2' AS kb FROM d
        |WHERE (d.id // 4) % 4 = 2
        |ORDER BY d.id LIMIT 300""".stripMargin,
  )
}
