package graft

import java.nio.file.Files

import graft.memo.{MemoEngine, MemoOps, YamlIO}

/** Golden lifecycle replay (reference SKILL.md:96-143): save → recall →
  * filtered recall → analyze → reindex → clean against a versioned Parquet
  * store. Scores differ from the reference (deterministic murmur3 embedding
  * replaces its process-seeded hash) but every structural contract holds. */
class MemoEngineSpec extends SparkTestBase {

  private def freshEngine(): (MemoEngine, String) = {
    val dir = Files.createTempDirectory("memo_engine").toString
    val e = new MemoEngine(spark, s"$dir/db")
    // fixtures here are tens of rows — the production cost route would
    // (correctly) send every retract window to the rebuild arm at this
    // scale, and these specs exist to pin the FOLD semantics. The route
    // itself is pinned by its own spec below.
    e.retractRouteMinRows = 0
    (e, s"$dir/db")
  }

  private val saveBatch =
    """---
      |body: I am allergic to peanuts.
      |metadata:
      |  source: user
      |  category: health
      |---
      |body: User prefers dark mode.
      |metadata:
      |  source: user
      |  category: ui
      |""".stripMargin

  test("save assigns dense ids from 0 and echoes full bodies") {
    val (engine, _) = freshEngine()
    val out = engine.save(saveBatch)
    assert(out == Seq((0L, "I am allergic to peanuts."),
      (1L, "User prefers dark mode.")))
    assert(engine.records.count() == 2)
    assert(engine.index.count() == 2)
    // multi-line bodies echo verbatim (memo_cli.py:430 prints the note)
    val multi = engine.save("---\nbody: |-\n  line one\n  line two\n")
    assert(multi == Seq((2L, "line one\nline two")))
    engine.clean()
  }

  test("recall ranks semantically related notes; filter restricts") {
    val (engine, _) = freshEngine()
    engine.save(saveBatch)
    engine.save("---\nbody: peanut allergy emergency plan\nmetadata: {source: doc}\n")
    val hits = engine.recall("peanuts allergy", k = 2).collect()
    assert(hits.length == 2)
    // both peanut notes outrank the dark-mode note
    assert(hits.map(_.getLong(0)).toSet == Set(0L, 2L))
    // notes 0 and 1 both carry source:user; the doc note (id 2) is excluded
    // and the peanut note must rank first among the survivors
    val filtered = engine.recall("peanuts allergy", k = 2,
      filterExpr = Some("{source: user}")).collect()
    assert(filtered.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(filtered(0).getDouble(1) > filtered(1).getDouble(1))
    engine.clean()
  }

  test("save with id overwrites; unknown id aborts whole batch") {
    val (engine, _) = freshEngine()
    engine.save(saveBatch)
    engine.save("---\nid: 1\nbody: Updated note text for id 1.\nmetadata: {source: user}\n")
    val bodies = engine.records.orderBy("id").collect().map(_.getString(1))
    assert(bodies(1) == "Updated note text for id 1.")
    intercept[IllegalArgumentException] {
      engine.save("---\nid: 99\nbody: nope\n")
    }
    // failed batch must not have changed the store
    assert(engine.records.count() == 2)
    engine.clean()
  }

  test("reindex compacts deleted records and re-sequences ids") {
    val (engine, _) = freshEngine()
    engine.save(saveBatch)
    engine.save("---\nid: 0\nbody: gone\nmetadata: {deleted: true}\n")
    val dropped = engine.reindex()
    assert(dropped == 1)
    val recs = engine.records.orderBy("id").collect()
    assert(recs.map(_.getLong(0)).toSeq == Seq(0L))
    assert(recs(0).getString(1) == "User prefers dark mode.")
    engine.clean()
  }

  test("append-only save embeds ONLY the new rows (V2 incremental index)") {
    import graft.functions.VectorKernels
    val (engine, _) = freshEngine()
    // seed a 60-record corpus in one save
    val seed = (0 until 60).map(i =>
      s"---\nbody: seed note number $i with words\nmetadata: {k: v$i}\n").mkString
    engine.save(seed)
    // settle: recall once so any lazy embeds are flushed
    engine.recall("seed", k = 1).collect()
    val before = VectorKernels.embedCalls.get()
    engine.save("---\nbody: one brand new note\nmetadata: {k: new}\n")
    val cost = VectorKernels.embedCalls.get() - before
    // 1 changed row (+1 for the recall-free path margin); a full rebuild
    // would be >= 60
    assert(cost <= 5, s"append re-embedded $cost rows — not incremental")
    assert(engine.index.count() == 61)
    // log-structured append: the new version references the PRIOR segment
    // files (no O(corpus) records rewrite) and adds an O(batch) delta
    val segs = engine.records.inputFiles.map(_.replaceFirst("/[^/]+$", "")).distinct
    assert(segs.exists(_.contains("/v0/")) && segs.exists(_.contains("/v1/")),
      s"expected v0 reuse + v1 delta, got: ${segs.mkString(", ")}")
    val delta = spark.read.parquet(segs.find(_.contains("/v1/")).get)
    assert(delta.count() == 1, "append delta must hold only the batch rows")
    // overwrite of one id is also incremental and replaces its vector
    val before2 = VectorKernels.embedCalls.get()
    engine.save("---\nid: 3\nbody: replacement text\nmetadata: {k: v3}\n")
    assert(VectorKernels.embedCalls.get() - before2 <= 5)
    assert(engine.index.count() == 61)
    // and the replaced vector matches a fresh embedding of the new body
    val vec = engine.index.filter(org.apache.spark.sql.functions.col("id") === 3)
      .collect()(0).getSeq[Float](1)
    val want = VectorKernels.hashEmbedFloats("replacement text",
      VectorKernels.DefaultDim).toSeq
    assert(vec == want)
    // the overwrite patches ONLY the touched segment (r12): id 3 lives in
    // the v0 snapshot, so v0 is replaced by the v2 patch segment while the
    // untouched v1 delta rides into v2's manifest BY REFERENCE
    val segs2 = engine.records.inputFiles
      .map(_.replaceFirst("/[^/]+$", "")).distinct
    assert(segs2.length == 2 && segs2.exists(_.contains("/v1/")) &&
      segs2.exists(_.contains("/v2/")) && !segs2.exists(_.contains("/v0/")),
      s"overwrite should patch-merge, got: ${segs2.toSeq}")
    engine.clean()
  }

  test("append chain compacts at maxSegments, results unchanged") {
    val dir = Files.createTempDirectory("memo_engine").toString
    val engine = new graft.memo.MemoEngine(spark, s"$dir/db", maxSegments = 3)
    (0 until 5).foreach { i =>
      engine.save(s"---\nbody: note number $i\nmetadata: {i: $i}\n")
    }
    assert(engine.records.count() == 5)
    assert(engine.index.count() == 5)
    // chain never exceeds maxSegments dirs
    val segs = engine.records.inputFiles.map(_.replaceFirst("/[^/]+$", "")).distinct
    assert(segs.length <= 3, s"chain too long: ${segs.toSeq}")
    // contents intact after compaction
    val bodies = engine.records.orderBy("id").collect().map(_.getString(1)).toSeq
    assert(bodies == (0 until 5).map(i => s"note number $i"))
    engine.clean()
  }

  test("auto-fold commits emit an EMPTY changefeed (no spurious CDC churn)") {
    // a fold rewrites the chain's LAYOUT, not its content — a CDC
    // consumer downstream of emitChanges must see nothing for it, or
    // every maintenance compaction would fan out as a phantom full-table
    // update to every follower
    val dir = Files.createTempDirectory("memo_engine").toString
    val engine = new graft.memo.MemoEngine(spark, s"$dir/db", maxSegments = 3)
    (0 until 5).foreach(i => engine.save(s"---\nbody: fold note $i\n"))
    val log = Files.createTempDirectory("memo_fold_cdc").toString
    engine.emitChanges(log)
    val feed = spark.read
      .schema(graft.memo.MemoEngine.ChangeLogSchema).parquet(s"$log/commit-*")
    // exactly the five genuine adds across the whole chain, fold included
    assert(feed.count() == 5, "fold commit leaked phantom changes")
    assert(feed.filter("change <> 'added'").count() == 0)
    engine.clean()
  }

  test("streamed micro-batches compact at maxSegments; watermark survives") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo_engine").toString
    val engine = new graft.memo.MemoEngine(spark, s"$dir/db", maxSegments = 3)
    (0 until 6).foreach { b =>
      engine.streamAppend(Seq(s"streamed note $b").toDF("body"), b.toLong)
    }
    assert(engine.records.count() == 6)
    assert(engine.index.count() == 6)
    // the stream's append chain compacts like any other append chain
    val segs = engine.records.inputFiles.map(_.replaceFirst("/[^/]+$", "")).distinct
    assert(segs.length <= 3, s"chain too long: ${segs.toSeq}")
    // the watermark rode through the compacting commit: a replay of the
    // last batch is still a no-op
    engine.streamAppend(Seq("streamed note 5").toDF("body"), 5L)
    assert(engine.records.count() == 6,
      "replay after a compacting commit was ingested twice")
    engine.clean()
  }

  test("a torn commit is invisible to readers and reclaimed by vacuum") {
    // the crash window: a version directory was written but the process
    // died before the CURRENT pointer swung. Readers must keep seeing the
    // prior version (the pointer IS the commit), and vacuum must reclaim
    // the orphan.
    val dir = Files.createTempDirectory("memo_engine").toString
    val engine = new graft.memo.MemoEngine(spark, s"$dir/db")
    engine.save("---\nbody: committed note\n") // v0, pointer at 0
    val torn = java.nio.file.Paths.get(s"$dir/db", "v1")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("records.manifest"),
      torn.resolve("records").toString + "\n")
    assert(engine.records.count() == 1, "torn commit leaked into reads")
    assert(engine.records.collect()(0).getString(1) == "committed note")
    assert(engine.vacuum() == 1, "vacuum did not reclaim the torn version")
    assert(!Files.exists(torn))
    // the store still accepts the next commit (it reuses the version slot)
    engine.save("---\nbody: after the crash\n")
    assert(engine.records.count() == 2)
    engine.clean()
  }

  test("vacuum reclaims unreferenced versions, keeps live segment chain") {
    val dir = Files.createTempDirectory("memo_engine").toString
    val engine = new graft.memo.MemoEngine(spark, s"$dir/db")
    engine.save("---\nbody: first note\n") // v0 snapshot
    engine.save("---\nbody: second note\n") // v1 delta (references v0)
    // both versions are live (v1's manifest references v0's segment)
    assert(engine.vacuum() == 0)
    // v2 overwrite PATCHES (r12): id 0 lives in v0's segment, so v2
    // rewrites it while v1's delta dir stays referenced by v2's manifest
    engine.save("---\nid: 0\nbody: replaced\n")
    val removed = engine.vacuum() // only v0 is unreachable; v1 is live
    assert(removed == 1, s"expected 1 stale version, removed $removed")
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/db", "v1")),
      "vacuum reclaimed a segment dir the patch manifest references")
    val bodies = engine.records.orderBy("id").collect().map(_.getString(1)).toSeq
    assert(bodies == Seq("replaced", "second note"))
    assert(engine.index.count() == 2)
    engine.clean()
  }

  test("clean removes the store; second clean reports already empty") {
    val (engine, _) = freshEngine()
    engine.save(saveBatch)
    assert(engine.clean())
    assert(!engine.exists)
    assert(!engine.clean())
  }

  test("yaml export → import round-trips records exactly") {
    val (engine, _) = freshEngine()
    engine.save(saveBatch)
    engine.save("---\nbody: |-\n  multi line\n  note body\nmetadata: {tags: [a, b]}\n")
    val yaml = engine.exportYaml()
    val (engine2, _) = freshEngine()
    engine2.importYaml(yaml)
    val a = engine.records.orderBy("id").collect().toSeq
    val b = engine2.records.orderBy("id").collect().toSeq
    assert(a == b)
    assert(a.exists(_.getString(1) == "multi line\nnote body"))
    engine.clean(); engine2.clean()
  }

  test("duplicate ids in an imported DB are rejected") {
    intercept[IllegalArgumentException] {
      YamlIO.importTable(spark,
        "---\nid: 0\nbody: a\n---\nid: 0\nbody: b\n")
    }
  }

  test("saveFromPath: distributed bulk save mints dense ids in file order") {
    val (engine, _) = freshEngine()
    engine.save(saveBatch) // ids 0, 1
    val f = Files.createTempFile("save_bulk", ".yaml")
    val docs = new StringBuilder("---\nid: 0\nbody: replaced zero\n")
    (0 until 30).foreach(i =>
      docs.append(s"---\nbody: |-\n  bulk note $i\nmetadata: {n: $i}\n"))
    Files.writeString(f, docs.toString)
    val out = engine.saveFromPath(f.toString).toSeq
    // echoes come back in file order: the override first, then appends
    assert(out.head == ((0L, "replaced zero")))
    assert(out.tail.map(_._1) == (2L until 32L))
    assert(out(1)._2 == "bulk note 0")
    assert(engine.records.count() == 32)
    assert(engine.index.count() == 32)
    val recs = engine.records
    assert(recs.filter(recs("id") === 0).collect()(0).getString(1)
      == "replaced zero")
    // unknown override id aborts the whole batch before any mutation
    val bad = Files.createTempFile("save_bad", ".yaml")
    Files.writeString(bad, "---\nid: 99\nbody: nope\n")
    val e = intercept[IllegalArgumentException](engine.saveFromPath(bad.toString))
    assert(e.getMessage.contains("override id 99"))
    assert(engine.records.count() == 32)
    engine.clean()
  }

  test("path yaml export → import round-trips the store distributed") {
    val (engine, _) = freshEngine()
    engine.save(saveBatch)
    engine.save("---\nbody: |-\n  multi line\n  note body\nmetadata: {tags: [a, b]}\n")
    val dir = Files.createTempDirectory("yaml_engine").resolve("db.yaml.d")
    engine.exportYamlPath(dir.toString)
    val (engine2, _) = freshEngine()
    engine2.importYamlPath(dir.toString)
    val a = engine.records.orderBy("id").collect().toSeq
    val b = engine2.records.orderBy("id").collect().toSeq
    assert(a == b)
    engine.clean(); engine2.clean()
  }

  test("streamAppend: exactly-once streaming ingestion into the store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (engine, _) = freshEngine()
    val ckpt = Files.createTempDirectory("memo_stream_ckpt").toString
    val input = MemoryStream[String]
    val q = input.toDF().select(col("value").as("body"))
      .writeStream.foreachBatch(engine.streamAppend _)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData("note one about kafka", "note two about parquet")
      q.processAllAvailable()
      input.addData("note three about spark", "   ") // blank body dropped
      q.processAllAvailable()
      input.addData("note four about duckdb")
      q.processAllAvailable()
    } finally q.stop()
    // every non-blank body landed once, ids dense 0..n-1, index derived
    assert(engine.records.count() == 4)
    assert(engine.index.count() == 4)
    val ids = engine.records.select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(0L, 1L, 2L, 3L), s"ids not dense: ${ids.toSeq}")
    // recall works over the streamed corpus end-to-end
    assert(engine.recall("kafka", k = 1).collect().nonEmpty)
    // at-least-once replay: re-delivering an already-committed batch id
    // (what Structured Streaming does after a crash between the sink call
    // and the checkpoint advance) must be a no-op
    val replay = Seq("note one about kafka", "note two about parquet")
      .toDF("body")
    engine.streamAppend(replay, batchId = 0L)
    assert(engine.records.count() == 4,
      "replayed micro-batch was ingested twice")
    // a NON-stream mutation must not lose the watermark (it is carried
    // forward through every commit), so a replay after it is still a no-op
    engine.save("---\nbody: manual note between batches\n")
    engine.streamAppend(replay, batchId = 2L)
    assert(engine.records.count() == 5,
      "replay after an interleaved manual save was ingested twice")
    // a NEW checkpoint lineage restarts batch ids at 0 — its first batches
    // are real new data, and the old lineage's watermark must NOT swallow
    // them (the silent-data-loss hazard the lineage scoping exists for)
    engine.streamSink("checkpoint-B")(
      Seq("fresh note after checkpoint change").toDF("body"), 0L)
    assert(engine.records.count() == 6,
      "new-lineage batch 0 was dropped by the old lineage's watermark")
    // and the new lineage's own watermark dedups ITS replays
    engine.streamSink("checkpoint-B")(
      Seq("fresh note after checkpoint change").toDF("body"), 0L)
    assert(engine.records.count() == 6,
      "new-lineage replay was ingested twice")
    engine.clean()
  }

  test("save entry with blank body is rejected") {
    val (engine, _) = freshEngine()
    intercept[IllegalArgumentException] {
      engine.save("---\nbody: '   '\n")
    }
    engine.clean()
  }

  test("hybridRecall fuses keyword and semantic rankings with both ranks") {
    val (engine, _) = freshEngine()
    engine.save(
      """---
        |body: zanzibar logistics manifest zanzibar shipping zanzibar
        |---
        |body: peanut allergy requires avoiding peanut butter and peanut oil
        |---
        |body: daily standup notes about sprint planning and retrospectives
        |""".stripMargin)
    // keyword query: the zanzibar doc must win on the BM25 leg and fuse first
    val hits = engine.hybridRecall("zanzibar shipping", k = 3).collect()
    assert(hits.nonEmpty)
    val top = hits.head
    assert(top.getAs[String]("body").contains("zanzibar"),
      s"keyword-heavy doc not ranked first: ${top}")
    // both per-list ranks ride through; the winner was ranked by bm25
    assert(top.getAs[Integer]("r_bm25") != null, "missing bm25 rank")
    assert(hits.forall(r => r.getAs[Integer]("r_vec") != null),
      "semantic leg must rank every non-blank doc")
    // k bound and ordering contract
    assert(hits.length <= 3)
    val scores = hits.map(_.getAs[Double]("rrf_score")).toSeq
    assert(scores == scores.sorted.reverse, "not ordered by fused score")
    // token-less query degrades to the semantic ranking alone (no bm25 col)
    val semantic = engine.hybridRecall("???", k = 2).collect()
    assert(semantic.nonEmpty)
    assert(!semantic.head.schema.fieldNames.contains("r_bm25"))
    // metadata filter applies to BOTH legs
    engine.save("---\nbody: zanzibar cargo\nmetadata: {lang: sw}\n")
    val filtered = engine.hybridRecall("zanzibar", k = 5,
      filterExpr = Some("{lang: sw}")).collect()
    assert(filtered.map(_.getAs[String]("body")).toSet == Set("zanzibar cargo"),
      "filter must restrict both retrieval legs")
    engine.clean()
  }

  test("lexical catch-up is a function of its CAPTURED version under racing commits") {
    import org.apache.spark.sql.functions._
    val (engine, db) = freshEngine()
    engine.save((0 until 8).map(i => s"---\nbody: seed note $i about alpha\n")
      .mkString)
    engine.hybridRecall("alpha", k = 5).collect() // artifact at v_seed
    // force the rebuild arm on the next catch-up (reindex rewrites the
    // chain), then interleave a foreign commit INTO the rebuild window:
    // the rebuild must index the captured version, not the live view —
    // otherwise the next catch-up re-appends the racer's doc (duplicate
    // postings rows, double-counted df, inflated N)
    engine.save("---\nid: 0\nbody: gone\nmetadata: {deleted: true}\n")
    engine.reindex()
    engine.beforeLexicalBuildHook = () => {
      engine.beforeLexicalBuildHook = () => () // fire once
      engine.save("---\nbody: racer note about alpha zulu\n")
    }
    try engine.hybridRecall("alpha zulu", k = 10).collect()
    finally engine.beforeLexicalBuildHook = () => ()
    // second call catches up the racer's version; the maintained artifact
    // must then score BIT-IDENTICALLY to the inline scorer over the live
    // records (the LexicalSpec equivalence contract) — a double-counted
    // racer would carry duplicate postings rows, df=2, and an inflated
    // corpus N, shifting its own score AND every idf
    engine.hybridRecall("alpha zulu", k = 10).collect()
    val terms = graft.functions.VectorKernels.tokenize("alpha zulu")
      .toSeq.distinct
    val inline = graft.ops.Lexical.scoreBm25(
      engine.records.filter(
        !graft.functions.GraftFunctions.isBlank(col("body"))),
      "id", "body", terms, 50).collect().toSeq
    val artifact = graft.ops.Lexical.searchBm25(spark, s"$db/_lexical",
      terms, 50).collect().toSeq
    assert(artifact == inline,
      "maintained artifact diverged from the live corpus after a racing " +
        "commit — the catch-up double-counted or dropped a version")
    engine.clean()
  }

  test("hybrid recall serves O(probe) off the maintained postings artifact") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorKernels
    val (engine, _) = freshEngine()
    engine.save((0 until 30).map(i =>
      s"---\nbody: corpus note $i about topic${i % 5} and theme${i % 3}\n")
      .mkString)
    // the reference ranking: the r6 code path, replicated — inline BM25
    // over the live records fused with the semantic leg
    def inline() = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(desc("score"), col("id"))
      val vec = engine.recall("topic1 theme2", 50)
        .select(col("id"), col("score"))
        .withColumn("rank", row_number().over(w))
      val terms = VectorKernels.tokenize("topic1 theme2").toSeq.distinct
      val bm = graft.ops.Lexical.scoreBm25(
          engine.records.filter(
            !graft.functions.GraftFunctions.isBlank(col("body"))),
          "id", "body", terms, 50)
        .select(col("doc_id").as("id"), col("score"))
        .withColumn("rank", row_number().over(w))
      graft.ops.Lexical.rrfFuse(Seq("bm25" -> bm, "vec" -> vec), 10)
        .join(engine.records.select(col("id"), col("body")), Seq("id"))
        .orderBy(desc("rrf_score"), col("id"))
        .collect().toSeq
    }
    def served() = engine.hybridRecall("topic1 theme2", k = 10).collect().toSeq
    val want = inline()
    // first artifact-path call pays the one-time build (tokenizes corpus)
    assert(served() == want, "artifact leg diverged from the inline scorer")
    // fresh artifact: ZERO tokenize-the-corpus jobs per recall
    val before = VectorKernels.tokenizeCalls.get()
    assert(served() == want)
    assert(VectorKernels.tokenizeCalls.get() == before,
      "hybrid recall on a committed store re-tokenized the corpus")
    // append-only commit: catch-up tokenizes ONLY the new batch
    engine.save("---\nbody: fresh note about topic1\n")
    val before2 = VectorKernels.tokenizeCalls.get()
    val grown = served()
    val catchUp = VectorKernels.tokenizeCalls.get() - before2
    assert(catchUp > 0 && catchUp <= 4,
      s"catch-up cost $catchUp tokenize calls for a 1-doc commit " +
        "(corpus is 31 docs — it was re-tokenized)")
    assert(grown == inline(), "post-append artifact diverged")
    // and once caught up: zero again
    val before3 = VectorKernels.tokenizeCalls.get()
    assert(served() == grown)
    assert(VectorKernels.tokenizeCalls.get() == before3)
    // rewrite commit (reindex compacts the chain) → artifact rebuilds
    // once, then serves O(probe) again with unchanged results
    engine.save("---\nid: 0\nbody: gone\nmetadata: {deleted: true}\n")
    engine.reindex()
    val rebuilt = served()
    assert(rebuilt == inline(), "post-reindex artifact diverged")
    val before4 = VectorKernels.tokenizeCalls.get()
    assert(served() == rebuilt)
    assert(VectorKernels.tokenizeCalls.get() == before4)
    engine.clean()
  }

  test("annRecall serves ANN off an engine-MAINTAINED IVF artifact, O(new segments)") {
    import org.apache.spark.sql.functions._
    val (engine, db) = freshEngine()
    engine.save((0 until 40).map(i =>
      s"---\nbody: corpus note $i about topic${i % 5} and theme${i % 3}\n")
      .mkString)
    def ivfFiles() = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(s"$db/_ann")
      if (!java.nio.file.Files.exists(root)) Map.empty[String, Long]
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    // first call builds the artifact once; ANN hits agree with the exact
    // ranking's head for a store this small (every cell probed)
    val hits = engine.annRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist).collect()
    assert(hits.length == 5)
    val exact = engine.recall("topic1 theme2", k = 5).collect()
      .map(_.getLong(0)).toSet
    assert(hits.map(_.getLong(0)).toSet == exact,
      "full-probe ANN must agree with the exact ranking")
    val files1 = ivfFiles()
    assert(files1.nonEmpty, "no persisted IVF artifact after annRecall")
    // committed store, current watermark: serving touches NOTHING
    engine.annRecall("topic1 theme2", k = 5).collect()
    assert(ivfFiles() == files1, "a warm annRecall rewrote the artifact")
    // append-only commit: O(new segments) catch-up — every prior file
    // survives untouched, the batch lands as NEW files
    engine.save("---\nbody: fresh doc about topic1 theme2\n")
    val grown = engine.annRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist).collect()
    val files2 = ivfFiles()
    files1.foreach { case (f, mtime) =>
      assert(files2.get(f).contains(mtime),
        s"append-only catch-up rewrote $f — not O(new segments)")
    }
    assert(files2.size > files1.size, "the appended batch landed no files")
    assert(grown.map(_.getLong(0)).toSet ==
      engine.recall("topic1 theme2", k = 5).collect().map(_.getLong(0)).toSet)
    // chain rewrite (reindex) → one rebuild, then warm serving again
    engine.save("---\nid: 0\nbody: gone\nmetadata: {deleted: true}\n")
    engine.reindex()
    val rebuilt = engine.annRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist).collect()
    assert(rebuilt.map(_.getLong(0)).toSet ==
      engine.recall("topic1 theme2", k = 5).collect().map(_.getLong(0)).toSet,
      "post-reindex ANN diverged from the exact ranking")
    val files3 = ivfFiles()
    engine.annRecall("topic1 theme2", k = 5).collect()
    assert(ivfFiles() == files3, "post-rebuild warm serving touched the artifact")
    engine.clean()
  }

  test("hybrid recall rides out an in-flight append's journal window") {
    val (engine, db) = freshEngine()
    engine.save((0 until 6).map(i => s"---\nbody: note $i about alpha\n")
      .mkString)
    engine.hybridRecall("alpha", k = 5).collect() // artifact built
    val jp = java.nio.file.Paths.get(s"$db/_lexical", "_lex_journal")
    // an in-flight micro-batch commit: journal live for a moment, then
    // cleared — the probe's bounded retry must absorb it (the transient
    // window is NOT a torn artifact; a rebuild would be pure waste)
    java.nio.file.Files.writeString(jp, "stream_9|999:999:fp0\n")
    val committer = new Thread(() => {
      Thread.sleep(350)
      java.nio.file.Files.deleteIfExists(jp); ()
    })
    committer.start()
    val hits = try engine.hybridRecall("alpha", k = 5).collect()
    finally committer.join()
    assert(hits.nonEmpty, "probe must ride out the journal window")
    // a journal that never clears (a real crashed append) still surfaces
    // the typed error once the bounded retry is exhausted
    java.nio.file.Files.writeString(jp, "stream_9|999:999:fp0\n")
    try intercept[graft.ops.Lexical.PendingAppendException] {
      engine.hybridRecall("alpha", k = 5).collect()
    } finally java.nio.file.Files.deleteIfExists(jp)
    engine.clean()
  }

  test("FILTERED hybrid recall serves O(probe): zero tokenize jobs, mask semantics") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorKernels
    val (engine, db) = freshEngine()
    engine.save((0 until 30).map(i =>
      s"---\nbody: corpus note $i about topic${i % 5} and theme${i % 3}\n" +
        s"metadata: {lang: ${if (i % 2 == 0) "en" else "sw"}}\n").mkString)
    def served() = engine.hybridRecall("topic1 theme2", k = 10,
      filterExpr = Some("{lang: en}")).collect().toSeq
    val first = served() // pays the one-time artifact build
    assert(first.nonEmpty)
    // the filter restricts BOTH legs (en docs have even ids)
    assert(first.forall(_.getLong(0) % 2 == 0),
      "a filtered-out doc surfaced in the fused ranking")
    // committed store + fresh artifact: the filtered path must run ZERO
    // tokenize-the-corpus jobs — the filter rides into the artifact
    // probe as a candidate mask, it no longer routes to the inline scorer
    val before = VectorKernels.tokenizeCalls.get()
    assert(served() == first)
    assert(VectorKernels.tokenizeCalls.get() == before,
      "filtered hybrid recall on a committed store re-tokenized the corpus")
    // bit-exactness of the whole fused pipeline against the mask
    // semantics, replicated by hand: artifact probe under the filter-
    // surviving id set (global idf/N — LexicalSpec pins that this equals
    // the post-hoc-masked global ranking), fused with the filtered
    // semantic leg
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(desc("score"), col("id"))
    val allowed = engine.records.filter(
      graft.filter.FilterAlgebra.compile("{lang: en}", col("metadata")))
      .select(col("id"))
    val vec = engine.recall("topic1 theme2", 50, Some("{lang: en}"))
      .select(col("id"), col("score"))
      .withColumn("rank", row_number().over(w))
    val terms = VectorKernels.tokenize("topic1 theme2").toSeq.distinct
    val bm = graft.ops.Lexical.searchBm25(spark, s"$db/_lexical", terms, 50,
        allowedIds = Some(allowed))
      .select(col("doc_id").as("id"), col("score"))
      .withColumn("rank", row_number().over(w))
    val reference = graft.ops.Lexical.rrfFuse(Seq("bm25" -> bm, "vec" -> vec), 10)
      .join(engine.records.select(col("id"), col("body")), Seq("id"))
      .orderBy(desc("rrf_score"), col("id"))
      .collect().toSeq
    assert(served() == reference,
      "filtered hybrid recall diverged from the masked artifact pipeline")
    engine.clean()
  }

  /** Parquet files + mtimes under an engine-side artifact dir — the
    * O(new segments) pin shared by the ensure* specs. */
  private def artifactFiles(db: String, sub: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(s"$db/$sub")
    if (!java.nio.file.Files.exists(root)) Map.empty[String, Long]
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
  }

  test("pqRecall serves compressed ANN off an engine-MAINTAINED IVF-PQ artifact") {
    val (engine, db) = freshEngine()
    engine.save((0 until 40).map(i =>
      s"---\nbody: corpus note $i about topic${i % 5} and theme${i % 3}\n")
      .mkString)
    // full probe + refine covering the corpus: the exact re-rank sees
    // every candidate, so the top-k must equal the exact ranking's head
    val hits = engine.pqRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist, refine = 8).collect()
    assert(hits.length == 5)
    val exact = engine.recall("topic1 theme2", k = 5).collect()
      .map(_.getLong(0)).toSet
    assert(hits.map(_.getLong(0)).toSet == exact,
      "full-probe full-refine PQ ANN must agree with the exact ranking")
    val files1 = artifactFiles(db, "_ann")
    assert(files1.nonEmpty, "no persisted IVF-PQ artifact after pqRecall")
    // committed store, current watermark: serving touches NOTHING
    engine.pqRecall("topic1 theme2", k = 5).collect()
    assert(artifactFiles(db, "_ann") == files1,
      "a warm pqRecall rewrote the artifact")
    // append-only commit: O(new segments) catch-up — quantizers reused,
    // prior files untouched, the batch lands as NEW files
    engine.save("---\nbody: fresh doc about topic1 theme2\n")
    val grown = engine.pqRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist, refine = 9).collect()
    val files2 = artifactFiles(db, "_ann")
    files1.foreach { case (f, mtime) =>
      assert(files2.get(f).contains(mtime),
        s"append-only catch-up rewrote $f — not O(new segments)")
    }
    assert(files2.size > files1.size, "the appended batch landed no files")
    assert(grown.map(_.getLong(0)).toSet ==
      engine.recall("topic1 theme2", k = 5).collect().map(_.getLong(0)).toSet)
    // chain rewrite (reindex) → one rebuild, then warm serving again
    engine.save("---\nid: 0\nbody: gone\nmetadata: {deleted: true}\n")
    engine.reindex()
    val rebuilt = engine.pqRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist, refine = 9).collect()
    assert(rebuilt.map(_.getLong(0)).toSet ==
      engine.recall("topic1 theme2", k = 5).collect().map(_.getLong(0)).toSet,
      "post-reindex PQ ANN diverged from the exact ranking")
    val files3 = artifactFiles(db, "_ann")
    engine.pqRecall("topic1 theme2", k = 5).collect()
    assert(artifactFiles(db, "_ann") == files3,
      "post-rebuild warm serving touched the artifact")
    engine.clean()
  }

  /** Shared fixture for the FILTERED ANN specs: three 20-doc commits
    * (three segments) whose `part` metadata correlates with the save
    * order — so the filter mask derivation itself is provably
    * segment-pruned — plus a 5-doc `flag: hot` needle set scattered
    * across all three parts (ids 0, 12, 24, 36, 48). */
  private def filteredAnnStore(): MemoEngine = {
    val (engine, _) = freshEngine()
    (0 until 3).foreach { p =>
      engine.save((0 until 20).map { j =>
        val i = p * 20 + j
        val hot = if (i % 12 == 0) "h1" else "h0"
        s"---\nbody: corpus note $i about topic${i % 5} and theme${i % 3}\n" +
          s"metadata: {part: p$p, hot: $hot}\n"
      }.mkString)
    }
    engine
  }

  test("filtered annRecall: mask semi-join parity + probe-widening fill") {
    val engine = filteredAnnStore()
    // the mask derivation MUST ride the stats-pruned frame: part
    // correlates with the save order, so exactly one of three segments
    // can hold p1
    assert(engine.segmentPrune("{part: p1}") == (1, 3),
      "filter mask derivation did not segment-prune")
    // full probe, well-filled filter (20 survivors ≥ k): the filtered
    // ANN ranking IS the filtered exact ranking — ids AND scores — and
    // no widening retry fires
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val annP1 = rows(engine.annRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist, filterExpr = Some("{part: p1}")))
    val exactP1 = rows(engine.recall("topic1 theme2", k = 5,
      filterExpr = Some("{part: p1}")))
    assert(annP1 == exactP1,
      s"full-probe filtered ANN diverged from filtered exact: $annP1 vs $exactP1")
    assert(engine.lastFilteredAnnProbe == Some((16, 0)),
      "a well-filled full-probe query must not widen")
    // selective filter (5 survivors ≤ k = 10), nprobe = 1: the cached
    // mask's count proves no intermediate probe can fill k, so the
    // ladder SHORT-CIRCUITS to one full-probe pass (reported as a
    // single retry) and the result is the ENTIRE survivor set with
    // exact-ranking scores — a post-filtered k would under-fill here
    val annHot = rows(engine.annRecall("topic1 theme2", k = 10,
      nprobe = 1, filterExpr = Some("{hot: h1}")))
    val exactHot = rows(engine.recall("topic1 theme2", k = 10,
      filterExpr = Some("{hot: h1}")))
    assert(annHot.map(_._1).toSet == Set(0L, 12L, 24L, 36L, 48L),
      s"filtered ANN missed survivors: $annHot")
    assert(annHot == exactHot,
      s"widened filtered ANN diverged from filtered exact: $annHot vs $exactHot")
    assert(engine.lastFilteredAnnProbe == Some((16, 1)),
      s"expected the ≤k shortcut's single full-probe jump, " +
        s"got ${engine.lastFilteredAnnProbe}")
    // the LADDER arm (survivors > k): p1 has 20 survivors spread over
    // 16 cells, so a 1-cell probe under-fills k=16 and the loop doubles
    // until filled — the result is k filter survivors (approximate
    // ranking below full probe, the standard ANN contract), never short
    val ladder = rows(engine.annRecall("topic1 theme2", k = 16,
      nprobe = 1, filterExpr = Some("{part: p1}")))
    assert(ladder.size == 16, s"ladder under-filled: ${ladder.size}")
    assert(ladder.map(_._1).forall(id => id >= 20 && id < 40),
      s"ladder leaked non-survivors: $ladder")
    val (np, retries) = engine.lastFilteredAnnProbe.get
    assert(retries >= 1 && np > 1,
      s"expected the doubling loop to fire, got ($np, $retries)")
    // empty filter result: no scan, no rows, seam reports (0, 0)
    assert(engine.annRecall("topic1 theme2", k = 5,
      filterExpr = Some("{part: nope}")).count() == 0)
    assert(engine.lastFilteredAnnProbe == Some((0, 0)))
    engine.clean()
  }

  test("filtered pqRecall: ADC-stage mask parity + probe-widening fill") {
    val engine = filteredAnnStore()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // full probe, well-filled: masked ADC candidates cover all top-k
    // survivors (k×refine ≥ k), exact re-rank ⇒ parity with the exact
    // filtered ranking
    val pqP1 = rows(engine.pqRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist, refine = 8,
      filterExpr = Some("{part: p1}")))
    val exactP1 = rows(engine.recall("topic1 theme2", k = 5,
      filterExpr = Some("{part: p1}")))
    assert(pqP1 == exactP1,
      s"full-probe filtered PQ diverged from filtered exact: $pqP1 vs $exactP1")
    assert(engine.lastFilteredAnnProbe == Some((16, 0)))
    // selective filter: because the mask applies BEFORE the ADC cut,
    // every survivor is a candidate — the ≤k shortcut jumps to full
    // probe and fills the whole 5-doc survivor set with exact scores
    // (a post-refine filter would return only the survivors that
    // happened to crack the unfiltered top-k×refine)
    val pqHot = rows(engine.pqRecall("topic1 theme2", k = 10,
      nprobe = 1, refine = 4, filterExpr = Some("{hot: h1}")))
    val exactHot = rows(engine.recall("topic1 theme2", k = 10,
      filterExpr = Some("{hot: h1}")))
    assert(pqHot.map(_._1).toSet == Set(0L, 12L, 24L, 36L, 48L),
      s"filtered PQ missed survivors: $pqHot")
    assert(pqHot == exactHot,
      s"widened filtered PQ diverged from filtered exact: $pqHot vs $exactHot")
    assert(engine.lastFilteredAnnProbe == Some((16, 1)))
    engine.clean()
  }

  test("annRecallBatch: one pass serves a query batch; per-query parity " +
      "with the single path, filter mask included") {
    import spark.implicits._
    val engine = filteredAnnStore()
    val queries = Seq((0L, "topic1 theme2"), (1L, "topic3 theme0"),
      (2L, "corpus note 7")).toDF("qid", "qtext")
    def batchSets(filter: Option[String]) =
      engine.annRecallBatch(queries, "qid", "qtext", k = 5,
          nprobe = MemoEngine.AnnNlist, filterExpr = filter)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def singleSet(q: String, filter: Option[String]) =
      engine.annRecall(q, k = 5, nprobe = MemoEngine.AnnNlist,
          filterExpr = filter)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // the in-plan hash-embed must rank exactly like the driver-side
    // single-query embed — per query, ids AND scores
    val unfiltered = batchSets(None)
    queries.collect().foreach { r =>
      assert(unfiltered(r.getLong(0)) == singleSet(r.getString(1), None),
        s"batch diverged from single for '${r.getString(1)}'")
    }
    // the filter mask applies to every query in the batch; the single
    // path widens to the same full probe, so the sets agree here too
    val filtered = batchSets(Some("{part: p1}"))
    queries.collect().foreach { r =>
      assert(filtered(r.getLong(0)) ==
        singleSet(r.getString(1), Some("{part: p1}")),
        s"filtered batch diverged for '${r.getString(1)}'")
      filtered(r.getLong(0)).foreach { case (id, _) =>
        assert(id >= 20 && id < 40, s"mask leaked id $id") }
    }
    // the EXACT-FILL contract at a deliberately starving nprobe: one
    // probed cell holds ~1-2 of p1's 20 survivors, so the per-query-id
    // ladder must widen — and the widened batch must equal the
    // single-query widening path per query, ids AND scores
    val starving = engine.annRecallBatch(queries, "qid", "qtext", k = 5,
        nprobe = 1, filterExpr = Some("{part: p1}"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val widen = engine.lastBatchWiden.getOrElse((0, 0))
    assert(widen._2 >= 1 && widen._1 > 1,
      s"expected the batch ladder to widen from nprobe=1, got $widen")
    queries.collect().foreach { r =>
      val single = engine.annRecall(r.getString(1), k = 5, nprobe = 1,
          filterExpr = Some("{part: p1}"))
        .collect().map(x => (x.getLong(0), x.getDouble(1))).toSet
      assert(starving(r.getLong(0)) == single,
        s"widened batch diverged from single widening for " +
          s"'${r.getString(1)}'")
      assert(starving(r.getLong(0)).size == 5,
        s"fill contract broken for '${r.getString(1)}': " +
          s"${starving(r.getLong(0)).size} rows")
    }
    // ≤ k survivors: the batch jumps straight to the full probe in ONE
    // extra-rung report, exactly like the single path's shortcut
    val fewSurvivors = engine.annRecallBatch(queries, "qid", "qtext",
        k = 5, nprobe = 1, filterExpr = Some("{hot: h1}"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(engine.lastBatchWiden ==
        Some((MemoEngine.AnnNlist, 1)),
      s"expected the <=k shortcut report, got ${engine.lastBatchWiden}")
    assert(fewSurvivors.map(_._2).toSet == Set(0L, 12L, 24L, 36L, 48L),
      "shortcut full probe must return exactly the h1 survivors")
    engine.clean()
  }

  test("recallServeBatch routes the whole batch once and matches the " +
      "single front door per query on every arm") {
    val engine = filteredAnnStore()
    import spark.implicits._
    val queries = Seq((0L, "topic1 theme2"), (1L, "topic3 theme0"))
      .toDF("qid", "qtext")
    def served(filter: Option[String], bruteRows: Long = 4096L,
        pqBytes: Long = MemoEngine.DefaultServePqBytes) =
      engine.recallServeBatch(queries, "qid", "qtext", k = 5,
          filterExpr = filter, nprobe = MemoEngine.AnnNlist,
          bruteRows = bruteRows, pqBytes = pqBytes)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def single(q: String, filter: Option[String], bruteRows: Long = 4096L,
        pqBytes: Long = MemoEngine.DefaultServePqBytes) =
      engine.recallServe(q, k = 5, filterExpr = filter,
          nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
          pqBytes = pqBytes)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val cases = Seq(
      // (label, filter, bruteRows, pqBytes, expected route)
      ("brute", Some("{part: p1}"), 4096L,
        MemoEngine.DefaultServePqBytes, "brute"),
      ("ivf", Some("{part: p1}"), 10L,
        MemoEngine.DefaultServePqBytes, "ann"),
      ("pq", Some("{part: p1}"), 10L, 64L, "pq"),
      ("unfiltered-ivf", None, 4096L,
        MemoEngine.DefaultServePqBytes, "ann"))
    cases.foreach { case (label, f, br, pb, route) =>
      val batch = served(f, br, pb)
      assert(engine.lastServeRoute.exists(_._1 == route),
        s"$label: expected route $route, got ${engine.lastServeRoute}")
      queries.collect().foreach { r =>
        val s = single(r.getString(1), f, br, pb)
        assert(batch.getOrElse(r.getLong(0), Set.empty) == s,
          s"$label: batch diverged from single front door for " +
            s"'${r.getString(1)}'")
      }
    }
    engine.clean()
  }

  test("serve front doors start the ladder bound-aware: a selective " +
      "filter fills in one pass where the explicit arm pays widening " +
      "rungs from the caller's nprobe") {
    import spark.implicits._
    val engine = filteredAnnStore()
    val f = Some("{part: p1}")
    // the EXPLICIT arm obeys the caller: nprobe=1 on p1 (20 survivors,
    // nlist=16) pays the widening ladder
    engine.annRecall("topic1 theme2", k = 5, nprobe = 1,
      filterExpr = f).collect()
    val naive = engine.lastFilteredAnnProbe.getOrElse((0, 0))
    assert(naive._2 >= 1,
      s"explicit arm should widen from nprobe=1, got $naive")
    // the FRONT DOOR at the same nominal nprobe starts at the width the
    // survivor count implies (2k·nlist/survivors = 2·5·16/20 = 8)
    val served = engine.recallServe("topic1 theme2", k = 5,
        filterExpr = f, nprobe = 1, bruteRows = 10L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(engine.lastServeRoute.exists(_._1 == "ann"))
    val adaptive = engine.lastFilteredAnnProbe.getOrElse((0, 0))
    assert(adaptive._1 >= 8,
      s"front door should start bound-aware, got $adaptive")
    assert(adaptive._2 < naive._2,
      s"front door should pay fewer rungs: $adaptive vs $naive")
    assert(served.size == 5, "exact-fill must hold at the adaptive start")
    // the heuristic is a COST knob, not a results knob: the explicit arm
    // asked for the same width returns the identical set
    val explicitAtWidth = engine.annRecall("topic1 theme2", k = 5,
        nprobe = adaptive._1, filterExpr = f,
        floor = Some(graft.memo.MemoOps.ScoreFloor))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(served == explicitAtWidth,
      s"adaptive start changed results: $served vs $explicitAtWidth")
    // the batch front door lands on the SAME width and rungs, and
    // matches per query
    val queries = Seq((0L, "topic1 theme2")).toDF("qid", "qtext")
    val batch = engine.recallServeBatch(queries, "qid", "qtext", k = 5,
        filterExpr = f, nprobe = 1, bruteRows = 10L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(batch == served,
      s"batch front door diverged at the adaptive width: $batch")
    assert(engine.lastBatchWiden.contains(adaptive),
      s"batch ladder telemetry diverged: ${engine.lastBatchWiden} " +
        s"vs $adaptive")
    engine.clean()
  }

  /** Nothing a serving door cached outlives the call: no persisted RDD,
    * no cache-manager entry. */
  private def assertNothingPinned(door: String): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"$door left RDDs persisted: ${spark.sparkContext.getPersistentRDDs}")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty,
      s"$door left a cache-manager entry")
  }

  test("serving doors return local frames and leave nothing pinned: no " +
      "persisted RDD and no cached plan after any door returns, the " +
      "widening batch ladder included") {
    import spark.implicits._
    val engine = filteredAnnStore()
    val queries = Seq((0L, "topic1 theme2")).toDF("qid", "qtext")
    val p1 = Some("{part: p1}")
    def local(door: String, df: org.apache.spark.sql.DataFrame): Unit = {
      assertNothingPinned(door)
      assert(df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
        s"$door did not return a frame over local rows")
    }
    // nprobe=1 on p1 widens: the ladder caches >= 2 rungs
    val ladder = engine.annRecallBatch(queries, "qid", "qtext", k = 5,
      nprobe = 1, filterExpr = p1)
    assert(engine.lastBatchWiden.exists(_._2 >= 1),
      s"the batch ladder must widen, got ${engine.lastBatchWiden}")
    local("annRecallBatch (widening)", ladder)
    // the answer reads no cache: consuming it twice gives one answer
    assert(ladder.collect().toSet == ladder.collect().toSet)
    local("pqRecallBatch (widening)", engine.pqRecallBatch(queries, "qid",
      "qtext", k = 5, nprobe = 1, filterExpr = p1))
    local("recallServeBatch", engine.recallServeBatch(queries, "qid",
      "qtext", k = 5))
    local("recallServeBatch (filtered)", engine.recallServeBatch(queries,
      "qid", "qtext", k = 5, filterExpr = p1, bruteRows = 0L))
    local("recallServeBatch (brute)", engine.recallServeBatch(queries,
      "qid", "qtext", k = 5, filterExpr = p1))
    Seq(None, p1).foreach { f =>
      local(s"annRecall $f", engine.annRecall("topic1 theme2", k = 5,
        nprobe = 1, filterExpr = f))
      local(s"pqRecall $f", engine.pqRecall("topic1 theme2", k = 5,
        nprobe = 1, filterExpr = f))
      local(s"recallServe pq $f", engine.recallServe("topic1 theme2",
        k = 5, filterExpr = f, bruteRows = 0L, pqBytes = 1L))
      local(s"hybridServe $f", engine.hybridServe("topic1 theme2", k = 5,
        filterExpr = f, bruteRows = 0L))
      local(s"hybridRecall(ann) $f", engine.hybridRecall("topic1 theme2",
        k = 5, filterExpr = f, ann = true, annNprobe = 1))
    }
    local("analyzeStats", engine.analyzeStats("{part: p1}", "hot"))
    engine.hybridServeBatch(queries, "qid", "qtext", k = 5,
      filterExpr = p1, nprobe = 1, bruteRows = 0L).collect()
    assertNothingPinned("hybridServeBatch (widening)")
    engine.clean()
  }

  test("concurrent batch serves: two threads on the filtered batch " +
      "ladder each equal the sequential baseline and leave nothing " +
      "pinned") {
    import spark.implicits._
    val engine = filteredAnnStore()
    val queries = Seq((0L, "topic1 theme2")).toDF("qid", "qtext")
    def serve(): Set[(Long, Double)] =
      engine.annRecallBatch(queries, "qid", "qtext", k = 5, nprobe = 1,
          filterExpr = Some("{part: p1}"))
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    // sequential baseline for result parity
    val baseline = serve()
    assert(engine.lastBatchWiden.exists(_._2 >= 1),
      s"the baseline ladder must widen, got ${engine.lastBatchWiden}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      (0 until 3).foreach { round =>
        val start = new java.util.concurrent.CyclicBarrier(2)
        val runs = (0 until 2).map(_ => pool.submit(
          new java.util.concurrent.Callable[Set[(Long, Double)]] {
            def call() = { start.await(); serve() }
          }))
        runs.zipWithIndex.foreach { case (f, t) =>
          val got = f.get(120, java.util.concurrent.TimeUnit.SECONDS)
          assert(got == baseline,
            s"round $round thread $t diverged: $got vs $baseline")
        }
        assertNothingPinned(s"round $round")
      }
    } finally {
      pool.shutdownNow()
      engine.clean()
    }
  }

  test("batch ladder mask is private to the call: another caller's " +
      "cached twin of the mask plan survives a filtered batch serve") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val engine = filteredAnnStore()
    val queries = Seq((0L, "topic1 theme2")).toDF("qid", "qtext")
    // Spark keeps ONE cache entry per plan: a door that cache()d this
    // plan and unpersisted it on return would uncache the twin too —
    // exactly what a concurrent call over the same filter would suffer
    val twin = engine.annMask("{part: p1}").cache()
    try {
      twin.count()
      val got = engine.annRecallBatch(queries, "qid", "qtext", k = 5,
          nprobe = 1, filterExpr = Some("{part: p1}"))
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(engine.lastBatchWiden.exists(_._2 >= 1),
        s"the ladder must widen, got ${engine.lastBatchWiden}")
      assert(got.nonEmpty)
      assert(twin.storageLevel != StorageLevel.NONE,
        "the filtered batch serve uncached another caller's twin plan")
    } finally {
      twin.unpersist()
      engine.clean()
    }
    assertNothingPinned("after the twin's release")
  }

  test("pqRecallBatch: compressed batch serving with per-query parity, " +
      "filter mask, and the exact-fill ladder") {
    val engine = filteredAnnStore()
    import spark.implicits._
    val queries = Seq((0L, "topic1 theme2"), (1L, "topic3 theme0"),
      (2L, "corpus note 7")).toDF("qid", "qtext")
    def batchSets(filter: Option[String], k: Int, nprobe: Int) =
      engine.pqRecallBatch(queries, "qid", "qtext", k = k,
          nprobe = nprobe, filterExpr = filter)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def singleSet(q: String, filter: Option[String], k: Int, nprobe: Int) =
      engine.pqRecall(q, k = k, nprobe = nprobe, filterExpr = filter)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    // full probe, unfiltered AND filtered: the in-plan hash-embed must
    // rank exactly like the driver-side single-query pqRecall
    val unfiltered = batchSets(None, 5, MemoEngine.AnnNlist)
    val filtered = batchSets(Some("{part: p1}"), 5, MemoEngine.AnnNlist)
    queries.collect().foreach { r =>
      assert(unfiltered(r.getLong(0)) ==
        singleSet(r.getString(1), None, 5, MemoEngine.AnnNlist),
        s"pq batch diverged from single for '${r.getString(1)}'")
      assert(filtered(r.getLong(0)) ==
        singleSet(r.getString(1), Some("{part: p1}"), 5,
          MemoEngine.AnnNlist),
        s"filtered pq batch diverged for '${r.getString(1)}'")
      filtered(r.getLong(0)).foreach { case (id, _) =>
        assert(id >= 20 && id < 40, s"mask leaked id $id") }
    }
    // the exact-fill ladder at a starving nprobe equals the single-query
    // widening path per query, and fills exactly k
    val starving = batchSets(Some("{part: p1}"), 5, 1)
    val widen = engine.lastBatchWiden.getOrElse((0, 0))
    assert(widen._2 >= 1 && widen._1 > 1,
      s"expected the pq batch ladder to widen from nprobe=1, got $widen")
    queries.collect().foreach { r =>
      val single = singleSet(r.getString(1), Some("{part: p1}"), 5, 1)
      assert(starving(r.getLong(0)) == single,
        s"widened pq batch diverged from single widening for " +
          s"'${r.getString(1)}'")
      assert(starving(r.getLong(0)).size == 5,
        s"pq fill contract broken for '${r.getString(1)}'")
    }
    // ≤ k survivors: the shortcut report matches the ann batch's shape
    batchSets(Some("{hot: h1}"), 5, 1)
    assert(engine.lastBatchWiden == Some((MemoEngine.AnnNlist, 1)),
      s"expected the <=k shortcut report, got ${engine.lastBatchWiden}")
    engine.clean()
  }

  test("recallServe routes three ways by the sidecar bounds: brute when " +
      "row-bounded, ivf when vector-byte-bounded, pq past the byte budget " +
      "or blind") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val engine = filteredAnnStore()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // one router serves every door: the batch and hybrid doors, driven
    // through the same inputs, must report the identical (route, bound)
    // recallServe just reported
    def sameRouteOnEveryDoor(e: MemoEngine, q: String,
        filter: Option[String], bruteRows: Long = 4096L,
        pqBytes: Long = MemoEngine.DefaultServePqBytes): Unit = {
      val expected = e.lastServeRoute
      val queries = Seq((0L, q)).toDF("qid", "qtext")
      Seq[(String, () => Unit)](
        "recallServeBatch" -> (() => e.recallServeBatch(queries, "qid",
          "qtext", k = 5, filterExpr = filter, bruteRows = bruteRows,
          pqBytes = pqBytes).collect()),
        "hybridServe" -> (() => e.hybridServe(q, k = 5,
          filterExpr = filter, bruteRows = bruteRows,
          pqBytes = pqBytes).collect()),
        "hybridServeBatch" -> (() => e.hybridServeBatch(queries, "qid",
          "qtext", k = 5, filterExpr = filter, bruteRows = bruteRows,
          pqBytes = pqBytes).collect())
      ).foreach { case (door, serve) =>
        e.lastServeRoute = None
        serve()
        assert(e.lastServeRoute == expected,
          s"$door routed ${e.lastServeRoute}, recallServe $expected")
      }
    }
    // selective filter, default budget: the surviving segment's 20 rows
    // bound the brute scan — take the exact pruned-frame arm
    val served = rows(engine.recallServe("topic1 theme2", k = 5,
      filterExpr = Some("{part: p1}")))
    assert(engine.lastServeRoute == Some(("brute", 20L)),
      s"expected the bounded brute route, got ${engine.lastServeRoute}")
    sameRouteOnEveryDoor(engine, "topic1 theme2", Some("{part: p1}"))
    assert(served == rows(engine.recall("topic1 theme2", k = 5,
      filterExpr = Some("{part: p1}"))))
    // same filter under a tiny row budget: the bound exceeds it — probe
    // raw vectors (20 rows × dim × 4 B is far under the byte budget)
    val servedAnn = rows(engine.recallServe("topic1 theme2", k = 5,
      filterExpr = Some("{part: p1}"), nprobe = MemoEngine.AnnNlist,
      bruteRows = 10L))
    assert(engine.lastServeRoute == Some(("ann", 20L)))
    sameRouteOnEveryDoor(engine, "topic1 theme2", Some("{part: p1}"),
      bruteRows = 10L)
    assert(servedAnn == rows(engine.annRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist, filterExpr = Some("{part: p1}"))
      .filter(col("score") >= MemoOps.ScoreFloor)))
    // …and under a tiny BYTE budget too: the survivors' raw vectors
    // outweigh it — the probe must swap to the compressed (PQ) path
    val servedPq = rows(engine.recallServe("topic1 theme2", k = 5,
      filterExpr = Some("{part: p1}"), nprobe = MemoEngine.AnnNlist,
      bruteRows = 10L, pqBytes = 64L))
    assert(engine.lastServeRoute == Some(("pq", 20L)),
      s"expected the byte-bounded pq route, got ${engine.lastServeRoute}")
    sameRouteOnEveryDoor(engine, "topic1 theme2", Some("{part: p1}"),
      bruteRows = 10L, pqBytes = 64L)
    assert(servedPq == rows(engine.pqRecall("topic1 theme2", k = 5,
      nprobe = MemoEngine.AnnNlist, filterExpr = Some("{part: p1}"))
      .filter(col("score") >= MemoOps.ScoreFloor)))
    // unfiltered always probes (the brute arm would be the corpus scan
    // the artifact exists to avoid); the byte bound prices the CHAIN
    engine.recallServe("topic1 theme2", k = 5).collect()
    assert(engine.lastServeRoute.exists(_._1 == "ann"))
    sameRouteOnEveryDoor(engine, "topic1 theme2", None)
    engine.recallServe("topic1 theme2", k = 5, pqBytes = 64L).collect()
    assert(engine.lastServeRoute.exists(_._1 == "pq"),
      s"unfiltered past the byte budget must compress, got " +
        s"${engine.lastServeRoute}")
    sameRouteOnEveryDoor(engine, "topic1 theme2", None, pqBytes = 64L)
    engine.clean()
    // a store without stats sidecars: the bound is unknowable — pricing
    // blind assumes big, which is the compressed arm
    val dir = Files.createTempDirectory("serve_nostats").toString
    val e2 = new MemoEngine(spark, s"$dir/db", metaStatsSidecars = false)
    e2.save("---\nbody: only note here\nmetadata: {part: p0}\n")
    e2.recallServe("note", k = 1, filterExpr = Some("{part: p0}")).collect()
    assert(e2.lastServeRoute == Some(("pq", Long.MaxValue)),
      s"missing sidecars must route to pq, got ${e2.lastServeRoute}")
    sameRouteOnEveryDoor(e2, "note", Some("{part: p0}"))
    e2.clean()
  }

  test("hybridRecallBatch: both legs batch, per-query parity with the " +
      "single hybrid path on every variant") {
    val engine = filteredAnnStore()
    import spark.implicits._
    val queries = Seq((0L, "topic1 theme2"), (1L, "topic3 note"),
      (2L, "")).toDF("qid", "qtext") // query 2: token-free, vec-only leg
    def key(r: org.apache.spark.sql.Row, off: Int) =
      (r.getLong(off), r.getDouble(off + 1),
        if (r.isNullAt(off + 2)) -1 else r.getInt(off + 2),
        if (r.isNullAt(off + 3)) -1 else r.getInt(off + 3))
    def batchSets(filter: Option[String], ann: Boolean) =
      engine.hybridRecallBatch(queries, "qid", "qtext", k = 10,
          filterExpr = filter, perList = 20, ann = ann,
          annNprobe = MemoEngine.AnnNlist)
        .collect().map(r => (r.getLong(0), key(r, 1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def singleSet(q: String, filter: Option[String], ann: Boolean) = {
      val df = engine.hybridRecall(q, k = 10, filterExpr = filter,
        perList = 20, ann = ann, annNprobe = MemoEngine.AnnNlist)
      // a token-free single query fuses vec alone and emits no r_bm25 —
      // normalize to the batch's fixed schema (null rank)
      val hasBm = df.columns.contains("r_bm25")
      df.collect().map { r =>
        val id = r.getLong(0); val s = r.getDouble(1)
        if (hasBm) (id, s,
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3))
        else (id, s, -1, if (r.isNullAt(2)) -1 else r.getInt(2))
      }.toSet
    }
    Seq((None, false), (Some("{part: p1}"), false),
        (Some("{part: p1}"), true)).foreach { case (f, ann) =>
      val batch = batchSets(f, ann)
      queries.collect().foreach { r =>
        val single = singleSet(r.getString(1), f, ann)
        assert(batch.getOrElse(r.getLong(0), Set.empty) == single,
          s"hybrid batch (filter=$f ann=$ann) diverged for " +
            s"'${r.getString(1)}': ${batch.getOrElse(r.getLong(0),
              Set.empty)} vs $single")
      }
    }
    // an ALL-token-free batch: the lexical leg is the EMPTY frame off
    // searchBm25Batch's own sizing collect (no separate emptiness probe
    // job) — per query it still equals the single path's vec-only fusion
    val allFree = Seq((0L, ""), (1L, "???")).toDF("qid", "qtext")
    val freeBatch = engine.hybridRecallBatch(allFree, "qid", "qtext",
        k = 10, perList = 20)
      .collect().map(r => (r.getLong(0), key(r, 1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Seq(0L -> "", 1L -> "???").foreach { case (qid, qt) =>
      assert(freeBatch.getOrElse(qid, Set.empty) ==
        singleSet(qt, None, ann = false),
        s"all-token-free batch diverged for '$qt'")
    }
    engine.clean()
  }

  test("hybridRecall ann=true rides the IVF artifact; full probe = exact arm") {
    import org.apache.spark.sql.functions.col
    val engine = filteredAnnStore()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // at full probe the ANN semantic leg IS the exact ranking, so the
    // fused output matches the exact arm row for row — filtered too
    // (the vec leg's mask + widening and the BM25 leg's allowedIds both
    // derive from the same filter)
    val exact = rows(engine.hybridRecall("topic1 theme2", k = 8,
      filterExpr = Some("{part: p1}")).select(col("id"), col("rrf_score")))
    val viaAnn = rows(engine.hybridRecall("topic1 theme2", k = 8,
      filterExpr = Some("{part: p1}"), ann = true,
      annNprobe = MemoEngine.AnnNlist)
      .select(col("id"), col("rrf_score")))
    assert(viaAnn == exact,
      s"full-probe ANN hybrid diverged from exact hybrid: $viaAnn vs $exact")
    // and the unfiltered arms agree too
    val exactU = rows(engine.hybridRecall("topic1 theme2", k = 8)
      .select(col("id"), col("rrf_score")))
    val viaAnnU = rows(engine.hybridRecall("topic1 theme2", k = 8,
      ann = true, annNprobe = MemoEngine.AnnNlist)
      .select(col("id"), col("rrf_score")))
    assert(viaAnnU == exactU)
    // the semantic leg really served off the maintained artifact
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(engine.records.inputFiles.head
        .stripPrefix("file:")).getParent.getParent.getParent
        .resolve("_ann")),
      "ann=true hybrid never built/served the IVF artifact")
    engine.clean()
  }

  test("hybridServe routes the semantic leg brute/IVF/PQ off the sidecar " +
      "bounds; at full probe ALL THREE arms return the identical fused " +
      "ranking") {
    import org.apache.spark.sql.functions.col
    val engine = filteredAnnStore()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id"), col("rrf_score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val f = Some("{part: p1}")
    def serve(bruteRows: Long, pqBytes: Long) = {
      val r = rows(engine.hybridServe("topic1 theme2", k = 8,
        filterExpr = f, nprobe = MemoEngine.AnnNlist,
        bruteRows = bruteRows, pqBytes = pqBytes))
      (r, engine.lastServeRoute.map(_._1).getOrElse("?"))
    }
    // route decisions mirror recallServe's: row bound, then byte budget
    val (viaBrute, r1) = serve(4096L, MemoEngine.DefaultServePqBytes)
    assert(r1 == "brute", s"expected brute route, got $r1")
    val (viaAnn, r2) = serve(10L, MemoEngine.DefaultServePqBytes)
    assert(r2 == "ann", s"expected ann route, got $r2")
    val (viaPq, r3) = serve(10L, 64L)
    assert(r3 == "pq", s"expected pq route, got $r3")
    // the brute route IS hybridRecall's default arm
    val manual = rows(engine.hybridRecall("topic1 theme2", k = 8,
      filterExpr = f))
    assert(viaBrute == manual,
      "brute-routed hybridServe diverged from hybridRecall")
    // ARM EQUALITY at full probe: the semantic legs are provably equal
    // there (exact filtered ranking, raw floor identical), and rank
    // fusion of equal lists is equal — so the route cannot change the
    // fused ranking
    assert(viaAnn == viaBrute,
      s"ann-routed fused ranking diverged: $viaAnn vs $viaBrute")
    assert(viaPq == viaBrute,
      s"pq-routed fused ranking diverged: $viaPq vs $viaBrute")
    // unfiltered never brutes — the probe arm serves
    rows(engine.hybridServe("topic1 theme2", k = 8,
      nprobe = MemoEngine.AnnNlist))
    assert(engine.lastServeRoute.exists(r => r._1 == "ann"),
      s"unfiltered hybridServe must probe, got ${engine.lastServeRoute}")
    engine.clean()
  }

  test("hybridServeBatch: one route decision per batch, per-query parity " +
      "with hybridServe on every route, token-free degradation included") {
    val engine = filteredAnnStore()
    import spark.implicits._
    val queries = Seq((0L, "topic1 theme2"), (1L, "topic3 note"),
      (2L, "")).toDF("qid", "qtext") // query 2: token-free, vec-only leg
    def batchSets(filter: Option[String], bruteRows: Long, pqBytes: Long) =
      engine.hybridServeBatch(queries, "qid", "qtext", k = 10,
          filterExpr = filter, perList = 20,
          nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
          pqBytes = pqBytes)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def singleSet(q: String, filter: Option[String], bruteRows: Long,
        pqBytes: Long) =
      engine.hybridServe(q, k = 10, filterExpr = filter, perList = 20,
          nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
          pqBytes = pqBytes)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val cases = Seq(
      ("brute", Some("{part: p1}"), 4096L, MemoEngine.DefaultServePqBytes),
      ("ann", Some("{part: p1}"), 10L, MemoEngine.DefaultServePqBytes),
      ("pq", Some("{part: p1}"), 10L, 64L),
      ("ann", None, 4096L, MemoEngine.DefaultServePqBytes))
    cases.foreach { case (route, f, br, pb) =>
      val batch = batchSets(f, br, pb)
      assert(engine.lastServeRoute.exists(_._1 == route),
        s"expected route $route, got ${engine.lastServeRoute}")
      queries.collect().foreach { r =>
        val single = singleSet(r.getString(1), f, br, pb)
        assert(batch.getOrElse(r.getLong(0), Set.empty) == single,
          s"hybrid serve batch (route=$route filter=$f) diverged for " +
            s"'${r.getString(1)}'")
      }
    }
    engine.clean()
  }

  test("analyze stats serve from a covering VIEW; uncovered asks fall " +
      "back to the scan; the view route stays fresh across commits") {
    import org.apache.spark.sql.functions.col
    val (engine, _) = freshEngine()
    def doc(lang: String, src: String, i: Int) =
      s"---\nbody: stats corpus doc $i\n" +
        s"metadata: {lang: $lang, src: $src}\n"
    engine.save((0 until 12).map(i =>
      doc(if (i % 3 == 0) "sw" else "en", s"s${i % 5}", i)).mkString)
    val filter = "{lang: en}"
    def pairs() = engine.statsPairs(filter, "src").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def expected() = engine.records
      .filter(graft.filter.FilterAlgebra.compile(filter, col("metadata")))
      .select(graft.memo.MemoOps.rawField("src").as("raw"))
      .filter(col("raw").isNotNull && col("raw") =!= "z")
      .groupBy("raw").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // no covering view yet: the corpus scan serves
    val viaScan = pairs()
    assert(engine.lastStatsSource.contains("scan"))
    assert(viaScan == expected())
    // a view whose groupKey/where match the ask verbatim COVERS it: the
    // pairs come from its state, byte-identical
    engine.viewState("cardsrc", "metadata['src']",
      where = Some(filter))
    val viaView = pairs()
    assert(engine.lastStatsSource.contains("view:cardsrc"),
      s"expected the view route, got ${engine.lastStatsSource}")
    assert(viaView == viaScan,
      s"view-served pairs diverged: $viaView vs $viaScan")
    assert(engine.cardinality(filter, "src") ==
      viaScan.map(_._1).size.toLong)
    // coverage is PARSE-level, not string-level: the brace-less spelling
    // of the same filter still routes to the view
    engine.statsPairs("lang: en", "src").collect()
    assert(engine.lastStatsSource.contains("view:cardsrc"),
      "a parse-equivalent filter spelling must still cover")
    // ...and CANONICAL-level: a single-element $and wrapper is the same
    // predicate (all([x]) = x) and must not fall to the scan arm
    assert(engine.statsPairs("$and: [{lang: en}]", "src").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet == viaScan)
    assert(engine.lastStatsSource.contains("view:cardsrc"),
      "a single-element $and wrapper must still cover")
    engine.statsPairs("$or: [{lang: en}]", "src").collect()
    assert(engine.lastStatsSource.contains("view:cardsrc"),
      "a single-element $or wrapper must still cover")
    // uncovered asks: different filter, different key → scan fallback
    engine.statsPairs("{lang: sw}", "src").collect()
    assert(engine.lastStatsSource.contains("scan"),
      "a different filter must not be served from the view")
    engine.statsPairs("$and: [{lang: en}, {src: s1}]", "src").collect()
    assert(engine.lastStatsSource.contains("scan"),
      "a genuinely stronger conjunction must not be served from the view")
    engine.statsPairs(filter, "lang").collect()
    assert(engine.lastStatsSource.contains("scan"),
      "a different key must not be served from the view")
    // freshness: the view route walks viewState's refresh first, so a
    // commit after registration is visible — never a stale block
    engine.save(doc("en", "s9", 99))
    val afterAppend = pairs()
    assert(engine.lastStatsSource.contains("view:cardsrc"))
    assert(afterAppend == expected(),
      s"view-served stats went stale: $afterAppend vs ${expected()}")
    // the A8 rollup API rides the same pairs: view-served, equal to the
    // MemoOps scan formulas
    val rollup = engine.analyzeStats(filter, "src").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(engine.lastStatsSource.contains("view:cardsrc"))
    val viaOps = graft.memo.MemoOps.statsTopK(
        engine.records, filter, "src").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rollup == viaOps,
      s"view-served rollup diverged from the scan: $rollup vs $viaOps")
    engine.clean()
  }

  test("analyzePercentiles: exact weighted percentile_cont over the " +
      "stats pairs — view-served equals the scan, non-numeric values " +
      "skipped, empty asks serve NULL") {
    val (engine, _) = freshEngine()
    // weights via duplicate values: w = 10×1, 20×2, 30×1 under the
    // filter (N=4, positions p×3) plus one NON-numeric w and one
    // filtered-out row that must not participate
    engine.save(Seq(
      "---\nbody: pct a\nmetadata: {flt: f1, w: 10}\n",
      "---\nbody: pct b\nmetadata: {flt: f1, w: 20}\n",
      "---\nbody: pct c\nmetadata: {flt: f1, w: 20}\n",
      "---\nbody: pct d\nmetadata: {flt: f1, w: 30}\n",
      "---\nbody: pct e\nmetadata: {flt: f1, w: notanumber}\n",
      "---\nbody: pct f\nmetadata: {flt: f0, w: 999}\n").mkString)
    def ask() = engine.analyzePercentiles("{flt: f1}", "w",
        Seq(0.0, 0.5, 1.0)).collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    // sorted multiset [10, 20, 20, 30]: p0 → 10, p0.5 → position 1.5,
    // both brackets 20 (the duplicate weight) → 20 exactly, p1 → 30
    val expect = Seq((0.0, 10.0), (0.5, 20.0), (1.0, 30.0))
    val scanned = ask()
    assert(engine.lastStatsSource.contains("scan"), engine.lastStatsSource)
    assert(scanned == expect, s"scan arm: $scanned")
    // covering view: the SAME numbers must serve O(state)
    engine.viewState("pctw", "metadata['w']", Seq.empty, Map.empty,
      where = Some("{flt: f1}")).count()
    val served = ask()
    assert(engine.lastStatsSource.exists(_.startsWith("view:")),
      engine.lastStatsSource)
    assert(served == expect, s"view arm: $served")
    // no numeric value under the ask → one NULL row per percent
    val none = engine.analyzePercentiles("{flt: f2}", "w", Seq(0.5))
      .collect()
    assert(none.length == 1 && none(0).getDouble(0) == 0.5 &&
      none(0).isNullAt(1), none.toSeq.toString)
    // boundary: percents outside [0,1] rejected loudly
    intercept[IllegalArgumentException] {
      engine.analyzePercentiles("{flt: f1}", "w", Seq(1.5))
    }
    engine.clean()
  }

  test("maintain: ONE call brings every artifact family current — " +
      "watermarks advance to the live version, the next serves pay " +
      "zero catch-up, and the drift retrain rides the same call") {
    import org.apache.spark.sql.functions.col
    val (engine, db) = freshEngine()
    engine.save((0 until 24).map(i =>
      s"---\nbody: maintain corpus doc $i topic${i % 5}\n" +
        s"metadata: {part: p${i % 3}}\n").mkString)
    engine.viewState("mview", "metadata['part']",
      where = Some("{part: p1}"))
    val r1 = engine.maintain()
    assert(Seq("lexical", "ivf", "signatures")
      .forall(r1.contains), s"families missing from report: $r1")
    assert(!r1.keySet.exists(_.startsWith("ivfpq")),
      s"the IVF-PQ route has no artifact of its own to report: $r1")
    assert(r1("ivf").matches("current \\(rebuild, nlist \\d+, pq 8x16\\)"),
      r1("ivf"))
    assert(r1("view:mview") == "fresh" || r1("view:mview") == "incremental")
    // every artifact watermark is the live version
    def watermark(art: String): Option[String] = graft.ops.ArtifactMeta
      .read(spark, java.nio.file.Paths.get(db).resolve(art).toString,
        "_store_version")
    val live = engine.versions.max.toString
    Seq("_lexical", "_ann", "_minhash").foreach { art =>
      assert(watermark(art).contains(live),
        s"$art watermark ${watermark(art)} != live $live after maintain")
    }
    // append → maintain → watermarks current again, view incremental
    engine.save("---\nbody: maintain append doc topic1\n" +
      "metadata: {part: p1}\n")
    val r2 = engine.maintain()
    val live2 = engine.versions.max.toString
    assert(live2 != live)
    Seq("_lexical", "_ann", "_minhash").foreach { art =>
      assert(watermark(art).contains(live2),
        s"$art not caught up by maintain: ${watermark(art)} vs $live2")
    }
    assert(r2("view:mview") == "incremental", s"got ${r2("view:mview")}")
    // the next VIEW serve is fresh (zero catch-up, the lock-free arm)
    engine.viewState("mview", "metadata['part']",
      where = Some("{part: p1}")).collect()
    assert(engine.lastViewRefresh.exists(_._1 == "fresh"))
    // drift arm: a sky-high threshold skips and touches NO artifact file
    def mtimes(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(db)
          .resolve("_ann")).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before = mtimes()
    val r3 = engine.maintain(retrainSkew = Some(1e9))
    assert(r3("ivf_retrain").startsWith("skipped") &&
      !r3.contains("ivfpq_retrain"), s"got $r3")
    assert(mtimes() == before,
      "a skipped retrain must not touch artifact files")
    // serving correctness is unchanged by the maintenance call
    val viaAnn = engine.annRecall("maintain corpus topic1", k = 5,
      nprobe = 4096).collect().map(_.getLong(0)).toSet
    val viaBrute = engine.recall("maintain corpus topic1", k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(viaAnn == viaBrute)
    engine.clean()
  }

  test("ivfSkew / retrainIvf: drift read off the stamp metadata alone, " +
      "no-op below threshold (files untouched), retrain above it — " +
      "post-retrain centroids IDENTICAL to a fresh build, serving exact") {
    import scala.jdk.CollectionConverters._
    val (engine, db) = freshEngine()
    // diverse seed corpus trains the quantizer across many cells
    engine.save((0 until 48).map(i =>
      s"---\nbody: seed topic$i theme${i % 7} subject${i % 11} " +
        s"angle${i % 5} facet$i\n").mkString)
    engine.annRecall("seed topic1 theme1", k = 3).collect() // build
    val skew0 = engine.ivfSkew()
    assert(skew0.isDefined, "built artifact must expose its occupancy")
    // DRIFTED appends: near-identical docs pile into a few hot cells
    // while the quantizer is reused (the ensure append arm's contract)
    // unique trailing token per doc: clustered embeddings (shared
    // phrase dominates) without EXACT score ties at the top-k cut
    (0 until 3).foreach(b => engine.save((0 until 40).map(i =>
      s"---\nbody: drifted repeated narrow phrase cluster " +
        s"variant${i % 2} nuance$b$i\n").mkString))
    engine.annRecall("seed topic1 theme1", k = 3).collect() // catch-up
    val skew1 = engine.ivfSkew().get
    assert(skew1 > skew0.get && skew1 > 2.0,
      s"drifted appends must raise the skew: ${skew0.get} -> $skew1")
    // METADATA-ONLY: the statistic answers with the cell DATA gone —
    // it reads the stamp file, never the parquet (stronger than a
    // job-count pin; restored below)
    val ivfPath = java.nio.file.Paths.get(db).resolve("_ann")
    val hidden = java.nio.file.Files.createTempDirectory("ivf_hide")
    val cellDirs = java.nio.file.Files.list(ivfPath).iterator().asScala
      .filter(_.getFileName.toString.startsWith("cell_id=")).toList
    cellDirs.foreach(d => java.nio.file.Files.move(d,
      hidden.resolve(d.getFileName)))
    val skewHidden =
      try engine.ivfSkew().get
      finally java.nio.file.Files.list(hidden).iterator().asScala.toList
        .foreach(d => java.nio.file.Files.move(d,
          ivfPath.resolve(d.getFileName)))
    assert(skewHidden == skew1,
      "ivfSkew must read only the stamp metadata")
    // the IVF-PQ route probes the same artifact: pqSkew is ivfSkew
    assert(engine.pqSkew().contains(skew1))
    val codebooks0 = graft.ops.IvfIndex.metaAt(spark, ivfPath.toString).get
      .codebooks.get.map(_.map(_.toSeq).toSeq).toSeq
    // below-threshold retrain is a NO-OP: every artifact file untouched
    def mtimes(): Map[String, Long] =
      java.nio.file.Files.walk(ivfPath).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    val before = mtimes()
    assert(!engine.retrainIvf(maxSkew = skew1 + 1.0),
      "retrain below the measured skew must not fire")
    assert(mtimes() == before,
      "a no-drift retrain call must not touch artifact files")
    // above-threshold: retrain fires and rebalances
    assert(engine.retrainIvf(maxSkew = math.max(1.1, skew1 - 0.5)),
      "retrain above the measured skew must fire")
    val skew2 = engine.ivfSkew().get
    assert(skew2 < skew1, s"retrain must reduce skew: $skew1 -> $skew2")
    // PARITY: the retrained quantizer is bit-identical to a fresh
    // fixed-seed build over the same corpus (hash-ordered sample —
    // content-deterministic, partition-layout-independent)
    val retrained = graft.ops.IvfIndex
      .readCentroids(spark, ivfPath.toString).get
    val freshPath = java.nio.file.Files
      .createTempDirectory("ivf_fresh").resolve("idx").toString
    val fresh = graft.ops.IvfIndex.buildIfAbsent(engine.index,
      "id", "embedding", retrained.length, freshPath)
    assert(retrained.length == fresh.length &&
      retrained.zip(fresh).forall { case (a, b) => a.sameElements(b) },
      "post-retrain centroids must equal a fresh build's")
    // the codebook half: the codes retrain together with the centroids
    // (old codes are meaningless under new cells) — equal to a fresh
    // training over the same corpus, and moved by the drifted appends
    val codebooks1 = graft.ops.IvfIndex.metaAt(spark, ivfPath.toString).get
      .codebooks.get.map(_.map(_.toSeq).toSeq).toSeq
    assert(codebooks1 == graft.ops.PqIndex.trainCodebooks(engine.index,
        "embedding", MemoEngine.AnnPqM, MemoEngine.AnnPqKsub)
      .map(_.map(_.toSeq).toSeq).toSeq,
      "post-retrain codebooks must equal a fresh training's")
    assert(codebooks1 != codebooks0, "retrain left the codebooks stale")
    assert(engine.pqSkew().contains(skew2))
    // and the maintained artifact still serves exactly at full probe
    val nlist = retrained.length
    val viaAnn = engine.annRecall("drifted repeated narrow", k = 5,
        nprobe = nlist).collect().map(_.getLong(0)).toSet
    val viaBrute = engine.recall("drifted repeated narrow", k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(viaAnn == viaBrute,
      s"full-probe ANN diverged from brute after retrain")
    val viaPq = engine.pqRecall("drifted repeated narrow", k = 5,
        nprobe = nlist, refine = 64).collect().map(_.getLong(0)).toSet
    assert(viaPq == viaBrute,
      "full-probe PQ diverged from brute after retrain")
    // the watermark survives the retrain: a following append catches up
    // without double-counting (occupancy total == corpus size)
    engine.save("---\nbody: post retrain append probe doc\n")
    engine.annRecall("post retrain append", k = 2).collect()
    val occ = graft.ops.IvfIndex
      .readOccupancy(spark, ivfPath.toString).get
    assert(occ.sum == engine.index.count(),
      s"occupancy ${occ.sum} != corpus after post-retrain append")
    engine.clean()
  }

  test("pqSkew / retrainPq: the drift policy on the compressed artifact " +
      "— retrain rebalances and full-probe serving stays exact") {
    // the IVF-PQ route probes the one ANN artifact: pqSkew reads its
    // occupancy and retrainIvf (which replaced retrainPq) retrains the
    // coarse quantizer and the codebooks together
    val (engine, _) = freshEngine()
    engine.save((0 until 48).map(i =>
      s"---\nbody: pq seed topic$i theme${i % 7} subject${i % 11} " +
        s"angle${i % 5} facet$i\n").mkString)
    engine.pqRecall("pq seed topic1 theme1", k = 3).collect()
    val skew0 = engine.pqSkew()
    assert(skew0.isDefined)
    (0 until 3).foreach(b => engine.save((0 until 40).map(i =>
      s"---\nbody: drifted pq narrow phrase cluster " +
        s"variant${i % 2} nuance$b$i\n").mkString))
    engine.pqRecall("pq seed topic1 theme1", k = 3).collect()
    val skew1 = engine.pqSkew().get
    assert(skew1 > 2.0, s"drift must raise pq skew, got $skew1")
    assert(!engine.retrainIvf(maxSkew = skew1 + 1.0))
    assert(engine.retrainIvf(maxSkew = math.max(1.1, skew1 - 0.5)))
    assert(engine.pqSkew().get < skew1)
    // full-probe refine serving stays exact vs brute
    val viaPq = engine.pqRecall("drifted pq narrow", k = 5,
        nprobe = 1024, refine = 64).collect()
      .map(_.getLong(0)).toSet
    val viaBrute = engine.recall("drifted pq narrow", k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(viaPq == viaBrute,
      "full-probe PQ diverged from brute after retrain")
    engine.clean()
  }

  test("analyze Matched count served from a covering view: any group " +
      "key's doc_count sums to the matched count; WHERE-less views " +
      "cover the match-all ask; the route stays fresh across commits") {
    val (engine, _) = freshEngine()
    engine.save(
      "---\nbody: one\nmetadata: {lang: en, src: s1}\n" +
        "---\nbody: two\nmetadata: {lang: sw, src: s2}\n" +
        "---\nbody: three\nmetadata: {lang: en, src: s1}\n" +
        "---\nbody: four with no metadata at all\n")
    // no covering view yet: scan
    assert(engine.analyzeCount("{lang: en}") == 2)
    assert(engine.lastCountSource.contains("scan"))
    engine.viewState("c1", "metadata['src']",
      where = Some("{lang: en}"))
    assert(engine.analyzeCount("{lang: en}") == 2)
    assert(engine.lastCountSource.contains("view:c1"),
      s"expected the view route, got ${engine.lastCountSource}")
    // coverage is PARSE-level: the brace-less spelling still covers
    assert(engine.analyzeCount("lang: en") == 2)
    assert(engine.lastCountSource.contains("view:c1"))
    // ...and CANONICAL-level: the $and-wrapped spelling of the same
    // predicate covers; a genuinely different one scans
    assert(engine.analyzeCount("$and: [{lang: en}]") == 2)
    assert(engine.lastCountSource.contains("view:c1"),
      s"expected the view route, got ${engine.lastCountSource}")
    assert(engine.analyzeCount("$or: [{lang: en}, {lang: sw}]") == 3)
    assert(engine.lastCountSource.contains("scan"))
    // the match-all ask: the reference SKIPS metadata-less records
    // before evaluating any filter (memo_cli.py:670-672), so the scan
    // counts 3 of 4 — and a WHERE-LESS view (which counts every row,
    // no-metadata included) must therefore NEVER cover it...
    assert(engine.analyzeCount("{}") == 3)
    assert(engine.lastCountSource.contains("scan"))
    engine.viewState("vnowhere", "metadata['lang']")
    assert(engine.analyzeCount("{}") == 3,
      "a where-less view must not cover (it counts no-metadata rows " +
        "the filter gate excludes)")
    assert(engine.lastCountSource.contains("scan"),
      s"expected the scan, got ${engine.lastCountSource}")
    // ...while a view WHERE-scoped to {} carries the gate through
    // compile and covers exactly
    engine.viewState("call", "metadata['lang']", where = Some("{}"))
    assert(engine.analyzeCount("{}") == 3)
    assert(engine.lastCountSource.contains("view:call"),
      s"expected the {}-scoped view, got ${engine.lastCountSource}")
    // freshness: the route walks viewState's refresh first
    engine.save("---\nbody: five\nmetadata: {lang: en, src: s9}\n")
    assert(engine.analyzeCount("{lang: en}") == 3)
    assert(engine.lastCountSource.contains("view:c1"))
    assert(engine.analyzeCount("{}") == 4)
    assert(engine.lastCountSource.contains("view:call"))
    // uncovered filter: scan fallback
    assert(engine.analyzeCount("{lang: sw}") == 1)
    assert(engine.lastCountSource.contains("scan"))
    engine.clean()
  }

  test("statsPairs special keys ('id', 'metadata', 'metadata.x') never " +
      "consult views — a metadata FIELD literally named 'id' must not " +
      "cover a record-id ask") {
    import org.apache.spark.sql.functions.col
    val (engine, _) = freshEngine()
    engine.save((0 until 6).map(i =>
      s"---\nbody: special key doc $i\n" +
        s"metadata: {id: grp${i % 2}, x: v${i % 3}, lang: en}\n").mkString)
    val filter = "{lang: en}"
    // views that would LOOK covering for each special form: rawField
    // resolves these keys differently from element_at(metadata, key),
    // so serving them from a view would silently swap the data source
    engine.viewState("vid", "metadata['id']", where = Some(filter))
    engine.viewState("vmeta", "metadata['metadata']", where = Some(filter))
    engine.viewState("vdot", "metadata['metadata.x']", where = Some(filter))
    for (key <- Seq("id", "metadata", "metadata.x")) {
      val got = engine.statsPairs(filter, key).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(engine.lastStatsSource.contains("scan"),
        s"special key '$key' must take the scan arm, got " +
          s"${engine.lastStatsSource}")
      val want = engine.records
        .filter(graft.filter.FilterAlgebra.compile(filter, col("metadata")))
        .select(graft.memo.MemoOps.rawField(key).as("raw"))
        .filter(col("raw").isNotNull && col("raw") =!= "z")
        .groupBy("raw").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == want, s"key '$key': $got vs $want")
    }
    // the id ask specifically serves RECORD ids (i-prefixed raw), never
    // the look-alike metadata field's values
    val idRaws = engine.statsPairs(filter, "id").collect()
      .map(_.getString(0))
    assert(idRaws.nonEmpty && idRaws.forall(_.startsWith("i")),
      s"id ask must serve record ids, got ${idRaws.toSeq}")
    assert(!idRaws.exists(_.contains("grp")),
      "id ask served the metadata field named 'id'")
    // a NON-special key still rides a covering view (the guard must not
    // over-shoot)
    engine.viewState("vx", "metadata['x']", where = Some(filter))
    engine.statsPairs(filter, "x").collect()
    assert(engine.lastStatsSource.contains("view:vx"),
      s"plain key lost view coverage: ${engine.lastStatsSource}")
    engine.clean()
  }

  test("admitNew gates a batch against engine-MAINTAINED signatures, O(batch)") {
    import spark.implicits._
    val (engine, db) = freshEngine()
    engine.save((0 until 20).map(i =>
      s"---\nbody: stored document number $i retains its own unusual phrasing " +
        s"about subject${i} and angle${i % 7}\n").mkString)
    // batch: two verbatim near-dups of stored bodies + two fresh docs
    val dupA = "stored document number 3 retains its own unusual phrasing " +
      "about subject3 and angle3"
    val dupB = "stored document number 11 retains its own unusual phrasing " +
      "about subject11 and angle4"
    val batch = Seq(
      (100L, dupA), (101L, dupB),
      (102L, "an entirely different incoming text sharing no shingles at all"),
      (103L, "another genuinely novel candidate body with fresh vocabulary"))
      .toDF("id", "body")
    val admitted = engine.admitNew(batch).collect().map(_.getLong(0)).toSet
    assert(admitted == Set(102L, 103L),
      s"admission gate wrong: $admitted (dups must be rejected, novel admitted)")
    val files1 = artifactFiles(db, "_minhash")
    assert(files1.nonEmpty, "no persisted signature artifact after admitNew")
    // warm call: watermark current, artifact untouched
    engine.admitNew(batch).collect()
    assert(artifactFiles(db, "_minhash") == files1,
      "a warm admitNew rewrote the signature artifact")
    // append-only commit: new segment signed O(batch) — prior files
    // untouched, new files land; a copy of the NEW doc is now rejected
    engine.save("---\nbody: a just appended memo concerning quarterly basil harvests\n")
    val probe = Seq(
      (200L, "a just appended memo concerning quarterly basil harvests"),
      (201L, "completely unrelated followup content with distinct wording"))
      .toDF("id", "body")
    val admitted2 = engine.admitNew(probe).collect().map(_.getLong(0)).toSet
    assert(admitted2 == Set(201L),
      s"near-dup of the appended doc must be rejected: $admitted2")
    val files2 = artifactFiles(db, "_minhash")
    files1.foreach { case (f, mtime) =>
      assert(files2.get(f).contains(mtime),
        s"append-only signature catch-up rewrote $f — not O(batch)")
    }
    assert(files2.size > files1.size, "the appended segment landed no files")
    // empty store admits everything (no artifact to gate against)
    val (empty, _) = freshEngine()
    assert(empty.admitNew(probe).count() == 2)
    empty.clean()
    engine.clean()
  }

  test("dupGroups: the engine maintains the transitive duplicate-group " +
      "labeling — one rebuild, O(batch) incremental folds on append " +
      "(prior signature files untouched), honest rebuild on a patch, " +
      "threshold in artifact identity, always equal to nearDupClusters " +
      "over the live corpus") {
    import spark.implicits._
    val (engine, db) = freshEngine()
    def clusterBody(k: Int) =
      s"duplicate cluster $k with alpha$k beta$k gamma$k delta$k epsilon$k"
    // 8 triplets of identical bodies: cluster k = ids 3k, 3k+1, 3k+2
    engine.save((0 until 24).map(i =>
      s"---\nbody: ${clusterBody(i / 3)}\n").mkString)
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    import org.apache.spark.sql.functions.{col, lit}
    def oracle(): Map[Long, Long] = labelsOf(
      graft.ops.Dedup.nearDupClusters(
        engine.records.select(col("id"), col("body")), "id", "body"))
    val l1 = labelsOf(engine.dupGroups())
    assert(engine.lastDupMode.contains("rebuild"), engine.lastDupMode)
    assert(l1 == (0L until 24L).map(i => i -> (i / 3) * 3).toMap, l1)
    // fresh serve: metadata reads only, nothing rewritten
    val dupFiles = artifactFiles(db, "_dupgroups")
    val sigFiles = artifactFiles(db, "_minhash")
    engine.dupGroups().collect()
    assert(engine.lastDupMode.contains("fresh"))
    assert(artifactFiles(db, "_dupgroups") == dupFiles,
      "a fresh dupGroups serve rewrote the labeling")
    // append: one doc joins cluster 2, two docs mint a NEW pair — the
    // fold must label the old-new edge AND the new-new edge, and the
    // signature catch-up must not rewrite prior files (O(batch) pin)
    engine.save(
      s"---\nbody: ${clusterBody(2)}\n" +
        s"---\nbody: ${clusterBody(100)}\n" +
        s"---\nbody: ${clusterBody(100)}\n")
    val l2 = labelsOf(engine.dupGroups())
    assert(engine.lastDupMode.contains("append"), engine.lastDupMode)
    assert(l2(24L) == 6L && l2(25L) == 25L && l2(26L) == 25L, l2)
    assert(l2 == oracle(), "fold diverged from the from-scratch labeling")
    val sigFiles2 = artifactFiles(db, "_minhash")
    sigFiles.foreach { case (f, mtime) =>
      assert(sigFiles2.get(f).contains(mtime),
        s"dup fold rewrote prior signature file $f — not O(batch)")
    }
    // a patch (removal of one cluster-0 member) is not provably
    // append-only → the RETRACT fold: only components containing a
    // touched id relabel; the removed id leaves the labeling and every
    // untouched group's label file survives byte-identical (the prior
    // generation is only REPLACED, so the O(touched) pin here is that
    // the fold equals the oracle while lastDupMode proves the corpus-
    // wide components() never ran)
    val sigFilesPrePatch = artifactFiles(db, "_minhash")
    engine.applyChanges(Seq(
        (1L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val l3 = labelsOf(engine.dupGroups())
    assert(engine.lastDupMode.contains("retract"), engine.lastDupMode)
    // ...and the SIGNATURE family retracted too (tombstone fold — a
    // pure-delete patch must not re-minhash the corpus): every prior
    // signature parquet file survives byte-identical
    assert(engine.lastSigMode.contains("retract"), engine.lastSigMode)
    artifactFiles(db, "_minhash").foreach { case (f, m) =>
      if (!f.contains("_tombstones") && !f.contains("_minhash_meta") &&
          sigFilesPrePatch.contains(f))
        assert(sigFilesPrePatch(f) == m,
          s"signature retract rewrote prior file $f — not O(touched)")
    }
    assert(!l3.contains(1L) && l3(2L) == 0L, l3)
    assert(l3 == oracle())
    // untouched groups pass through verbatim
    l2.foreach { case (id, c) =>
      if (id != 1L && c != 0L && id < 24L)
        assert(l3(id) == c, s"untouched label moved: $id $c -> ${l3.get(id)}")
    }
    // a delete that leaves its group a SINGLETON drops the survivor's
    // row too (groups are size ≥ 2 by definition): remove two of
    // cluster 3's three members
    engine.applyChanges(Seq(
        (9L, "removed", "", Map.empty[String, String]),
        (10L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(1L)))
    val l4 = labelsOf(engine.dupGroups())
    assert(engine.lastDupMode.contains("retract"), engine.lastDupMode)
    assert(!l4.contains(9L) && !l4.contains(10L) && !l4.contains(11L),
      s"a group shrunk to one member must drop entirely: $l4")
    assert(l4 == oracle())
    // an EDIT that moves a doc between groups retracts-and-merges: doc 4
    // (cluster 1) rewrites to cluster 2's body — cluster 1 keeps its
    // other two members, cluster 2 gains doc 4, whose id is the merged
    // group's new minimum (the whole gaining group must relabel)
    engine.save(s"---\nid: 4\nbody: ${clusterBody(2)}\n")
    val l5 = labelsOf(engine.dupGroups())
    assert(engine.lastDupMode.contains("retract"), engine.lastDupMode)
    // a body EDIT cannot fold into the signature artifact (re-signing a
    // tombstoned id violates the append contract) — signatures rebuild
    // honestly while the LABELING still retracts O(touched)
    assert(engine.lastSigMode.contains("rebuild"), engine.lastSigMode)
    assert(l5(4L) == 4L && l5(6L) == 4L && l5(24L) == 4L &&
      l5(3L) == 3L && l5(5L) == 3L, l5)
    assert(l5 == oracle())
    // a REINDEX re-sequences every id — corpus-scale diff, so the
    // retract gate must fall through to the honest rebuild
    engine.reindex()
    val l6 = labelsOf(engine.dupGroups())
    assert(engine.lastDupMode.contains("rebuild"), engine.lastDupMode)
    assert(engine.lastSigMode.contains("rebuild"), engine.lastSigMode)
    assert(l6 == oracle())
    // threshold participates in identity: a different minJaccard
    // rebuilds under the new spec rather than serving the old labeling
    engine.dupGroups(0.5).collect()
    assert(engine.lastDupMode.contains("rebuild"))
    // maintain walks the REGISTERED threshold (the recorded spec)
    val report = engine.maintain()
    assert(report.get("dupgroups").exists(_.contains("0.5")), report)
    assert(report.get("dupgroups").contains("current (fresh, j 0.5)"),
      report)
    // the report names the arm the labeling walk took on THIS call
    engine.save(s"---\nbody: ${clusterBody(5)}\n")
    val report2 = engine.maintain()
    assert(report2.get("dupgroups").contains("current (append, j 0.5)"),
      report2)
    engine.clean()
  }

  test("maintenance cost route: below the floor a delete patch rebuilds, " +
      "above it folds, zero-touch windows stay free either way") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val (engine, _) = freshEngine()
    // shingle-disjoint triplet clusters (every 3-token window carries
    // the cluster token — the minhash small-set-bias rule)
    def body(g: Int) = s"route$g alpha$g beta$g gamma$g delta$g"
    engine.save((0 until 18).map(i => s"---\nbody: ${body(i / 3)}\n")
      .mkString)
    def oracle(): Map[Long, Long] =
      graft.ops.Dedup.nearDupClusters(
          engine.records.select(col("id"), col("body")), "id", "body")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    engine.dupGroups().collect()
    engine.maintain()
    // a tiny store under the PRODUCTION floor: the walk must ROUTE the
    // delete patch to the rebuild arm (the fold's fixed job count costs
    // more than re-deriving 18 rows) and still serve the right labeling.
    // Modes are asserted right after the walk that owns them — maintain()
    // ends with the dup walk, whose beforeLocked signature re-walk would
    // read "fresh" and mask the mode under test.
    engine.retractRouteMinRows = 1000000L
    engine.applyChanges(Seq((0L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    assert(engine.dupGroups().collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap == oracle())
    assert(engine.lastSigMode.contains("rebuild"), engine.lastSigMode)
    assert(engine.lastDupMode.contains("rebuild"), engine.lastDupMode)
    assert(engine.lastRetractRoute.exists(_.startsWith("rebuild(")),
      engine.lastRetractRoute)
    val rebuilt = engine.maintain()
    assert(engine.lastLexMode.contains("rebuild"), engine.lastLexMode)
    assert(rebuilt("lexical") == "current (rebuild)", rebuilt)
    // a METADATA-ONLY patch under the same floor is a zero-touch window:
    // free fold in every family, never a rebuild, route never consulted
    engine.lastRetractRoute = None
    engine.applyChanges(Seq((2L, "updated", body(0),
        Map("tag" -> "route-spec")))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(1L)))
    assert(engine.dupGroups().collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap == oracle())
    assert(engine.lastSigMode.contains("retract"), engine.lastSigMode)
    assert(engine.lastDupMode.contains("retract"), engine.lastDupMode)
    val folded = engine.maintain()
    assert(engine.lastLexMode.contains("retract"), engine.lastLexMode)
    assert(folded("lexical") == "current (retract)", folded)
    assert(engine.lastRetractRoute.isEmpty, engine.lastRetractRoute)
    // floor dropped: the next delete patch takes the fold and the route
    // seam says so
    engine.retractRouteMinRows = 0
    engine.applyChanges(Seq((4L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(2L)))
    assert(engine.dupGroups().collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap == oracle())
    assert(engine.lastSigMode.contains("retract"), engine.lastSigMode)
    assert(engine.lastDupMode.contains("retract"), engine.lastDupMode)
    assert(engine.lastRetractRoute.exists(_.startsWith("retract(")),
      engine.lastRetractRoute)
    engine.clean()
  }

  test("cost route prices the rebuild from LIVE rows, not minted ids: " +
      "a half-tombstoned store flips to the rebuild where max(id)+1 " +
      "pricing kept the fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val (engine, _) = freshEngine()
    def body(g: Int) = s"tomb$g alpha$g beta$g gamma$g delta$g"
    engine.save((0 until 60).map(i => s"---\nbody: ${body(i / 3)}\n")
      .mkString)
    def oracle(): Map[Long, Long] =
      graft.ops.Dedup.nearDupClusters(
          engine.records.select(col("id"), col("body")), "id", "body")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    engine.dupGroups().collect()
    engine.maintain()
    // tombstone half the id space: ids 30..59 are physically dropped by
    // the merge, so max(id)+1 stays 60 while the chain holds 30 rows
    engine.applyChanges((30L until 60L).map(i =>
        (i, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    engine.maintain() // families current again (arm under floor 0: fold)
    // floor chosen so the OLD pricing takes the fold (minted ids 60 >=
    // 40 + 1*4) while live-row pricing must route to the rebuild
    // (29 live rows < 44)
    engine.retractRouteMinRows = 40L
    engine.applyChanges(Seq((0L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(1L)))
    assert(engine.dupGroups().collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap == oracle())
    assert(engine.lastSigMode.contains("rebuild"), engine.lastSigMode)
    assert(engine.lastDupMode.contains("rebuild"), engine.lastDupMode)
    assert(engine.lastRetractRoute.exists(r =>
        r.startsWith("rebuild(") && r.contains("live=29")),
      engine.lastRetractRoute)
    // same store, floor back under the live count: the next tombstone
    // folds — live-row pricing only moves the crossover, the retract
    // arm itself is intact on a holey id space
    engine.retractRouteMinRows = 20L
    engine.applyChanges(Seq((1L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(2L)))
    assert(engine.dupGroups().collect().map(r =>
      r.getLong(0) -> r.getLong(1)).toMap == oracle())
    assert(engine.lastSigMode.contains("retract"), engine.lastSigMode)
    assert(engine.lastRetractRoute.exists(r =>
        r.startsWith("retract(") && r.contains("live=28")),
      engine.lastRetractRoute)
    engine.clean()
  }

  test("dupGroups labels publish is SHARDED: folds rewrite only touched " +
      "shards, untouched shards carry by reference, serve spans " +
      "generations") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = Files.createTempDirectory("memo_shardlbl").toString
    val db = s"$dir/db"
    // shard target 4 labels/shard → 48 label rows grid into many shards
    val engine = new MemoEngine(spark, db, viewShardRows = 4)
    engine.retractRouteMinRows = 0
    def body(g: Int) = s"shardlbl$g alpha$g beta$g gamma$g delta$g"
    engine.save((0 until 48).map(i => s"---\nbody: ${body(i / 3)}\n")
      .mkString)
    def labelsOf(): Map[Long, Long] = engine.dupGroups().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def oracle(): Map[Long, Long] =
      graft.ops.Dedup.nearDupClusters(
          engine.records.select(col("id"), col("body")), "id", "body")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsOf() == oracle())
    val (wFull, cFull) = engine.lastDupPublish.get
    assert(wFull > 1 && cFull == 0,
      s"full publish expected many written shards, got ($wFull, $cFull)")
    val filesFull = artifactFiles(db, "_dupgroups")
    // APPEND fold: one new triplet — the publish must rewrite only the
    // shards its delta touches and carry the rest by reference
    engine.save((0 until 3).map(_ => s"---\nbody: ${body(100)}\n")
      .mkString)
    assert(labelsOf() == oracle())
    assert(engine.lastDupMode.contains("append"), engine.lastDupMode)
    val (wApp, cApp) = engine.lastDupPublish.get
    assert(cApp > 0, s"append fold carried no shards: ($wApp, $cApp)")
    assert(wApp < wFull, s"append fold rewrote the grid: ($wApp vs $wFull)")
    // every carried shard's files are byte-untouched (mtime pin)
    val filesApp = artifactFiles(db, "_dupgroups")
    filesFull.foreach { case (f, m) =>
      if (filesApp.contains(f))
        assert(filesApp(f) == m, s"fold rewrote prior shard file $f")
    }
    // the served labeling reads shards from MORE THAN ONE generation dir
    // (carry-by-reference is real, not a copy)
    val ptr = graft.ops.ArtifactMeta.read(spark, s"$db/_dupgroups",
      "_labels_ptr").get
    val gens = engine.readShardManifest(
        java.nio.file.Paths.get(s"$db/_dupgroups").resolve(ptr))
      .get.map(_.path.split('/').head).distinct
    assert(gens.length > 1, s"append fold publish spans one generation: $gens")
    // RETRACT fold: delete one member of one cluster — same carry pins
    engine.applyChanges(Seq((0L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    assert(labelsOf() == oracle())
    assert(engine.lastDupMode.contains("retract"), engine.lastDupMode)
    assert(engine.lastDupPublish.exists(_._2 > 0),
      s"retract fold carried no shards: ${engine.lastDupPublish}")
    val filesRet = artifactFiles(db, "_dupgroups")
    filesApp.foreach { case (f, m) =>
      if (filesRet.contains(f))
        assert(filesRet(f) == m, s"retract fold rewrote prior file $f")
    }
    engine.clean()
  }

  test("dupGroups shard-level sweep: a superseded label shard inside a " +
      "KEPT generation falls once past the TTL, while referenced shards " +
      "survive and the labeling stays exact") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("memo_lblswp").toString
    val db = s"$dir/db"
    val engine = new MemoEngine(spark, db, viewShardRows = 4)
    def body(g: Int) = s"lblsweep$g alpha$g beta$g gamma$g delta$g"
    engine.save((0 until 48).map(i => s"---\nbody: ${body(i / 3)}\n")
      .mkString)
    def oracle(): Map[Long, Long] =
      graft.ops.Dedup.nearDupClusters(
          engine.records.select(col("id"), col("body")), "id", "body")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def labels(): Map[Long, Long] = engine.dupGroups().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = java.nio.file.Paths.get(db).resolve("_dupgroups")
    def live(): String = graft.ops.ArtifactMeta.read(spark, root.toString,
      "_labels_ptr").get
    def refs(gen: String): Seq[String] =
      engine.readShardManifest(root.resolve(gen)).get.map(_.path)
    assert(labels() == oracle())
    val gen0 = live()
    // an append fold joins ONE existing group: it rewrites the shard
    // holding that group into a new generation, which carries the rest
    // of gen0 by reference — so gen0 stays, with a superseded shard
    engine.save(s"---\nbody: ${body(7)}\n")
    assert(labels() == oracle())
    assert(engine.lastDupMode.contains("append"), engine.lastDupMode)
    val refs1 = refs(live())
    assert(refs1.exists(_.startsWith(s"$gen0/")),
      s"the fold must carry gen0 shards by reference: $refs1")
    val superseded = java.nio.file.Files.list(root.resolve(gen0))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("_shard="))
      .filterNot(d => refs1.contains(s"$gen0/${d.getFileName}"))
      .toList
    assert(superseded.nonEmpty,
      s"expected a superseded shard in $gen0, manifest: $refs1")
    // young superseded shards survive the next fold (TTL guard) — then
    // age them past the TTL and fold again: they must fall, while every
    // shard the live manifest references stays
    engine.save(s"---\nbody: ${body(9)}\n")
    assert(labels() == oracle())
    superseded.foreach(d => assert(java.nio.file.Files.exists(d),
      s"a young superseded shard must survive (TTL window): $d"))
    superseded.foreach(d => java.nio.file.Files.setLastModifiedTime(d,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3L * 60 * 60 * 1000)))
    engine.save(s"---\nbody: ${body(11)}\n")
    assert(labels() == oracle())
    superseded.foreach(d => assert(!java.nio.file.Files.exists(d),
      s"an aged superseded shard must be swept: $d"))
    refs(live()).foreach(rel =>
      assert(java.nio.file.Files.isDirectory(root.resolve(rel)),
        s"referenced shard $rel must survive the sweep"))
    engine.clean()
  }

  test("vacuum sweeps a labeling that stopped folding: an aged " +
      "superseded label shard falls with no further fold, referenced " +
      "shards survive and the served labeling is unchanged") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("memo_lblvac").toString
    val db = s"$dir/db"
    val engine = new MemoEngine(spark, db, viewShardRows = 4)
    def body(g: Int) = s"lblvac$g alpha$g beta$g gamma$g delta$g"
    engine.save((0 until 48).map(i => s"---\nbody: ${body(i / 3)}\n")
      .mkString)
    def labels(): Map[Long, Long] = engine.dupGroups().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = java.nio.file.Paths.get(db).resolve("_dupgroups")
    def live(): String = graft.ops.ArtifactMeta.read(spark, root.toString,
      "_labels_ptr").get
    labels()
    val gen0 = live()
    // the last fold: it rewrites one shard of gen0 and carries the rest
    engine.save(s"---\nbody: ${body(7)}\n")
    val before = labels()
    assert(engine.lastDupMode.contains("append"), engine.lastDupMode)
    val gen1 = live()
    val refs1 = engine.readShardManifest(root.resolve(gen1)).get.map(_.path)
    val superseded = java.nio.file.Files.list(root.resolve(gen0))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("_shard="))
      .filterNot(d => refs1.contains(s"$gen0/${d.getFileName}"))
      .toList
    assert(superseded.nonEmpty,
      s"expected a superseded shard in $gen0, manifest: $refs1")
    def age(p: java.nio.file.Path) = java.nio.file.Files.setLastModifiedTime(
      p, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3L * 60 * 60 * 1000))
    superseded.foreach(age)
    engine.vacuum()
    // the pointer was just swung: a lock-free reader may still hold gen0
    superseded.foreach(d => assert(java.nio.file.Files.exists(d),
      s"vacuum swept $d before the labeling pointer aged"))
    age(root.resolve("_labels_ptr"))
    engine.vacuum()
    superseded.foreach(d => assert(!java.nio.file.Files.exists(d),
      s"vacuum must sweep an aged superseded shard: $d"))
    assert(live() == gen1, "vacuum moved the labeling pointer")
    refs1.foreach(rel =>
      assert(java.nio.file.Files.isDirectory(root.resolve(rel)),
        s"referenced shard $rel must survive the sweep"))
    val after = labels()
    assert(after == before)
    assert(after == graft.ops.Dedup.nearDupClusters(
        engine.records.select(col("id"), col("body")), "id", "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    engine.clean()
  }

  test("retract journal, every family: a live journal refuses the fold " +
      "for postings, ANN and signatures alike — the rebuild sweeps it, " +
      "and the next delete patch retracts again") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val (engine, db) = freshEngine()
    engine.save((0 until 24).map(i =>
      s"---\nbody: journal corpus doc $i about topic${i % 6} and " +
        s"facet${i % 4}\n").mkString)
    // (artifact dir, the door that walks it, the family's arm seam)
    val families = Seq[(String, () => Unit, () => Option[String])](
      ("_lexical", () => { engine.hybridRecall("topic1 facet2", k = 3)
        .collect(); () }, () => engine.lastLexMode),
      ("_ann", () => { engine.annRecall("journal corpus doc 3", k = 3)
        .collect(); () }, () => engine.lastIvfMode),
      ("_minhash", () => { engine.admitNew(Seq((900L, "a unique zebra"))
        .toDF("id", "body")).collect(); () }, () => engine.lastSigMode))
    families.foreach(_._2())
    var commit = 0L
    def removeOne(id: Long): Unit = {
      engine.applyChanges(Seq((id, "removed", "", Map.empty[String, String]))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(commit)))
      commit += 1
    }
    var victim = 0L
    families.foreach { case (fam, door, seam) =>
      // a crashed prior fold: the journal outlives its fold
      graft.ops.ArtifactMeta.write(spark, s"$db/$fam", "_retract_journal",
        "99")
      removeOne(victim); victim += 1
      door()
      assert(seam().contains("rebuild"), s"$fam: ${seam()}")
      assert(graft.ops.ArtifactMeta.read(spark, s"$db/$fam",
          "_retract_journal").isEmpty,
        s"$fam: the rebuild must sweep the crashed fold's journal")
      removeOne(victim); victim += 1
      door()
      assert(seam().contains("retract"), s"$fam: ${seam()}")
    }
    engine.clean()
  }

  test("streamSink(maintainEvery) runs maintenance on the commit cadence " +
      "and never on a watermark-skipped replay") {
    import spark.implicits._
    val (engine, db) = freshEngine()
    val sink = engine.streamSink("cadence-ckpt", 2)
    def lexMark: Option[String] =
      graft.ops.ArtifactMeta.read(spark, s"$db/_lexical", "_store_version")
    def curVer: String = Files.readString(
      java.nio.file.Paths.get(db, "CURRENT")).trim
    def batch(s: String) = Seq(s).toDF("body")
    sink(batch("cadence doc one about maintenance"), 0L)
    assert(lexMark.isEmpty, "maintenance ran before the cadence") // 1st
    sink(batch("cadence doc two about postings"), 1L) // 2nd: fires
    assert(lexMark.contains(curVer),
      s"maintain() did not fire on the 2nd commit: $lexMark vs $curVer")
    sink(batch("cadence doc three about vectors"), 2L) // 3rd: no fire
    assert(!lexMark.contains(curVer),
      "maintenance fired off-cadence on the 3rd commit")
    val vBefore = curVer
    sink(batch("cadence doc three about vectors"), 2L) // REPLAY
    assert(curVer == vBefore, "a replayed batch committed")
    assert(!lexMark.contains(curVer),
      "a watermark-skipped replay advanced the maintenance cadence")
    sink(batch("cadence doc four about signatures"), 3L) // 4th: fires
    assert(lexMark.contains(curVer),
      "maintain() did not fire on the 4th commit")
    engine.clean()
  }

  test("delete lifecycle: one reindex converges the maintained artifact " +
      "families, and the post-compact chain (dedupCompact) converges " +
      "them again") {
    // The cross-family convergence path the per-family specs don't walk:
    // soft-delete → reindex (a chain REWRITE, so every ensure* must take
    // its rebuild-from-CAPTURED-version arm, not the append catch-up) →
    // every maintained artifact family (postings / IVF / IVF-PQ /
    // signatures) serves the compacted corpus: the victim's text is
    // unfindable on all three recall paths and its signature no longer
    // blocks admission, while a live doc still gates.
    import spark.implicits._
    val (engine, _) = freshEngine()
    engine.save((0 until 30).map(i =>
      s"---\nbody: archive note $i keeps talking about area${i % 6} and " +
        s"facet${i % 4} matters\n").mkString)
    val victimBody = "the doomed quokka memorandum rambles about zirconium " +
      "gaskets and marzipan logistics"
    engine.save(s"---\nbody: $victimBody\n") // id 30
    // warm all four families at the pre-delete version
    assert(engine.annRecall(victimBody, k = 1).collect()
      .headOption.exists(_.getAs[String]("body") == victimBody),
      "pre-delete ANN must find the victim (exact-text query, cosine 1)")
    assert(engine.pqRecall(victimBody, k = 3).collect()
      .map(_.getAs[String]("body")).contains(victimBody))
    assert(engine.hybridRecall("quokka zirconium marzipan", k = 3).collect()
      .map(_.getAs[String]("body")).contains(victimBody))
    assert(engine.admitNew(Seq((500L, victimBody)).toDF("id", "body"))
      .count() == 0, "pre-delete: the victim's signature must gate its dup")
    // soft-delete the victim, compact the chain
    engine.save(s"---\nid: 30\nbody: $victimBody\nmetadata: {deleted: true}\n")
    assert(engine.reindex() == 1)
    val liveBodies = engine.records.select("body").collect()
      .map(_.getString(0)).toSet
    assert(!liveBodies.contains(victimBody))
    // every family converged through its rebuild arm: the victim is gone
    // from all three recall paths and every served row is a live doc
    val ann = engine.annRecall(victimBody, k = 5).collect()
    assert(ann.nonEmpty && ann.forall(r => liveBodies.contains(r.getAs[String]("body"))),
      "post-reindex ANN served a compacted-away doc")
    val pq = engine.pqRecall(victimBody, k = 5).collect()
    assert(pq.nonEmpty && pq.forall(r => liveBodies.contains(r.getAs[String]("body"))),
      "post-reindex PQ ANN served a compacted-away doc")
    val hyb = engine.hybridRecall("quokka zirconium marzipan", k = 5).collect()
    assert(hyb.nonEmpty && hyb.forall(r => liveBodies.contains(r.getAs[String]("body"))),
      "post-reindex hybrid recall served a compacted-away doc")
    // signatures rebuilt without the victim: its exact text is admissible
    // again, while a surviving doc's dup still gates
    val readmit = engine.admitNew(Seq(
      (600L, victimBody),
      (601L, "archive note 7 keeps talking about area1 and facet3 matters"))
      .toDF("id", "body")).collect().map(_.getLong(0)).toSet
    assert(readmit == Set(600L),
      s"post-reindex admission wrong: $readmit (victim must re-admit, " +
        "survivor dup must still gate)")
    // THE POST-COMPACT CHAIN (r18): plant an identical-text triplet,
    // dedupCompact (a chain rewrite triggered by the labeling's own
    // consumer), and the families converge again — exactly one planted
    // member survives, recall serves live docs only, admission still
    // gates on the survivor's signature, and a second compact is a
    // no-op (the labeling reflects the compacted corpus)
    val planted = "compactable widget zephyr99 alpha99 beta99 gamma99 delta99"
    engine.save((0 until 3).map(_ => s"---\nbody: $planted\n").mkString)
    val dropped = engine.dedupCompact()
    assert(dropped >= 2, s"the planted triplet must lose two members: $dropped")
    val live2 = engine.records.select("body").collect()
      .map(_.getString(0)).toSeq
    assert(live2.count(_ == planted) == 1,
      "exactly one planted member survives the compact")
    assert(live2.size == live2.distinct.size,
      "post-compact corpus still holds exact duplicates")
    val ann2 = engine.annRecall(planted, k = 5).collect()
    assert(ann2.nonEmpty &&
      ann2.forall(r => live2.contains(r.getAs[String]("body"))),
      "post-compact ANN served a compacted-away doc")
    val hyb2 = engine.hybridRecall("zephyr99 alpha99 beta99", k = 5).collect()
    assert(hyb2.nonEmpty &&
      hyb2.forall(r => live2.contains(r.getAs[String]("body"))),
      "post-compact hybrid recall served a compacted-away doc")
    assert(engine.admitNew(Seq((700L, planted)).toDF("id", "body"))
      .count() == 0,
      "post-compact: the survivor's signature must still gate its dup")
    assert(engine.dedupCompact() == 0, "second compact must be a no-op")
    engine.clean()
  }

  test("patch retract across maintained families: a pure-delete patch " +
      "folds O(touched) into postings/IVF/PQ/signatures — no family " +
      "rebuilds, prior artifact data files survive byte-identical, " +
      "every serving path converges on the survivors, and a " +
      "metadata-only patch is free for all four") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val (engine, db) = freshEngine()
    engine.save((0 until 24).map(i =>
      s"---\nbody: retract corpus doc $i about concept${i % 6} and " +
        s"aspect${i % 4}\n").mkString)
    val victim = "the transient albatross dossier covers gravel " +
      "telemetry and nougat forecasting"
    engine.save(s"---\nbody: $victim\n") // id 24
    // warm all four families at the pre-delete version
    assert(engine.hybridRecall("albatross nougat", k = 3).collect()
      .map(_.getAs[String]("body")).contains(victim))
    assert(engine.annRecall(victim, k = 1).collect()
      .map(_.getAs[String]("body")).contains(victim))
    assert(engine.pqRecall(victim, k = 3).collect()
      .map(_.getAs[String]("body")).contains(victim))
    assert(engine.admitNew(Seq((900L, victim)).toDF("id", "body"))
      .count() == 0)
    val before = Seq("_lexical", "_ann", "_minhash")
      .map(f => f -> artifactFiles(db, f)).toMap
    // pure-delete patch: the victim leaves via CDC apply
    engine.applyChanges(Seq(
        (24L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val hy = engine.hybridRecall("albatross nougat", k = 5).collect()
    assert(engine.lastLexMode.contains("retract"), engine.lastLexMode)
    assert(hy.nonEmpty &&
      !hy.map(_.getAs[String]("body")).contains(victim),
      "lexical retract left the victim findable")
    val ann = engine.annRecall(victim, k = 5).collect()
    assert(engine.lastIvfMode.contains("retract"), engine.lastIvfMode)
    assert(ann.nonEmpty &&
      !ann.map(_.getAs[String]("body")).contains(victim),
      "IVF retract left the victim findable")
    // the PQ route probes the artifact the IVF walk just retracted
    val pq = engine.pqRecall(victim, k = 5).collect()
    assert(engine.lastIvfMode.contains("fresh"), engine.lastIvfMode)
    assert(pq.nonEmpty &&
      !pq.map(_.getAs[String]("body")).contains(victim),
      "PQ retract left the victim findable")
    val admitted = engine.admitNew(Seq(
        (901L, victim),
        (902L, "retract corpus doc 3 about concept3 and aspect3"))
      .toDF("id", "body")).collect().map(_.getLong(0)).toSet
    assert(engine.lastSigMode.contains("retract"), engine.lastSigMode)
    assert(admitted == Set(901L),
      s"victim must readmit, survivor dup must still gate: $admitted")
    // O(touched): every prior artifact DATA file survives byte-identical
    // (tombstones/stats deltas/meta are new or small rewritten files)
    before.foreach { case (fam, files) =>
      val after = artifactFiles(db, fam)
      files.foreach { case (f, m) =>
        if (f.endsWith(".parquet") && after.contains(f))
          assert(after(f) == m,
            s"$fam retract rewrote prior data file $f — not O(touched)")
      }
    }
    // a METADATA-ONLY patch (body unchanged) is a no-op fold for every
    // body-indexing family: retract arms fire, nothing rewrites
    engine.save("---\nid: 5\nbody: retract corpus doc 5 about concept5 " +
      "and aspect1\nmetadata: {tag: retagged}\n")
    val mid = Seq("_lexical", "_ann", "_minhash")
      .map(f => f -> artifactFiles(db, f)).toMap
    engine.hybridRecall("concept5", k = 3).collect()
    engine.annRecall("retract corpus doc 5", k = 3).collect()
    engine.pqRecall("retract corpus doc 5", k = 3).collect()
    engine.admitNew(Seq((903L, "fresh unrelated zebra paragraph"))
      .toDF("id", "body")).collect()
    assert(engine.lastLexMode.contains("retract") ||
      engine.lastLexMode.contains("fresh"), engine.lastLexMode)
    assert(!engine.lastLexMode.contains("rebuild") &&
      !engine.lastIvfMode.contains("rebuild") &&
      !engine.lastSigMode.contains("rebuild"),
      s"metadata-only patch forced a rebuild: lex=${engine.lastLexMode} " +
        s"ivf=${engine.lastIvfMode} sig=${engine.lastSigMode}")
    mid.foreach { case (fam, files) =>
      val after = artifactFiles(db, fam)
      files.foreach { case (f, m) =>
        if (f.endsWith(".parquet") && after.contains(f))
          assert(after(f) == m,
            s"$fam rewrote $f on a metadata-only patch")
      }
    }
    // a crashed prior fold (live retract journal) refuses the
    // incremental arm — the fold's stamp retreats are not idempotent,
    // so a replay must be impossible by construction: the next patch
    // walk takes the honest rebuild, which sweeps the journal, and the
    // patch after that retracts again
    graft.ops.ArtifactMeta.write(spark, s"$db/_minhash",
      "_retract_journal", "99")
    engine.applyChanges(Seq(
        (7L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(1L)))
    engine.admitNew(Seq((904L, "zebra paragraph one of a kind"))
      .toDF("id", "body")).collect()
    assert(engine.lastSigMode.contains("rebuild"), engine.lastSigMode)
    assert(graft.ops.ArtifactMeta.read(spark, s"$db/_minhash",
        "_retract_journal").isEmpty,
      "the rebuild must sweep the crashed fold's journal")
    engine.applyChanges(Seq(
        (8L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(2L)))
    engine.admitNew(Seq((905L, "gryphon memo equally unique"))
      .toDF("id", "body")).collect()
    assert(engine.lastSigMode.contains("retract"), engine.lastSigMode)
    // maintain() applies the pending VECTOR tombstones physically:
    // ensureIvf first retract-folds the two delete patches the vector
    // family hasn't walked yet, then the apply pass rewrites
    // only the affected cells and drops the tombstone dirs — and a
    // second maintain has nothing pending
    val rep = engine.maintain()
    assert(engine.lastIvfMode.contains("retract"), engine.lastIvfMode)
    assert(rep.get("ivf_apply").contains("applied"), rep)
    assert(rep.get("lexical_apply").contains("applied"), rep)
    assert(!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$db/_ann/_tombstones")),
      "ivf tombstones must be swept by the apply")
    val rep2 = engine.maintain()
    assert(rep2.get("ivf_apply").contains("none pending"), rep2)
    assert(rep2.get("lexical_apply").contains("none pending"), rep2)
    // the applied artifacts still serve exactly the survivors
    val post = engine.annRecall("retract corpus doc 6", k = 5).collect()
    assert(post.nonEmpty && post.forall(r =>
      r.getLong(0) != 7L && r.getLong(0) != 8L && r.getLong(0) != 24L))
    val postHy = engine.hybridRecall("concept1 aspect3", k = 5).collect()
    assert(postHy.nonEmpty && postHy.forall(r =>
      r.getLong(0) != 7L && r.getLong(0) != 8L && r.getLong(0) != 24L))
    engine.clean()
  }

  test("engine churn: ensure* never serves an artifact missing committed docs") {
    // The duplicate-append / missing-doc race argued in the ensureArtifact
    // scaladoc (rebuild from the CAPTURED version, watermark advance under
    // the lock), pinned adversarially at the ENGINE layer for the two
    // vector families: concurrent savers commit versions while probers
    // drive annRecall/pqRecall catch-ups; any body whose save RETURNED
    // before a probe started must be served by that probe (the artifact
    // may run ahead of a probe's captured version, never behind), and no
    // probe may surface a duplicated id (the re-append symptom).
    val (engine, db) = freshEngine()
    engine.save((0 until 8).map(i =>
      s"---\nbody: churn seed $i speaking of matter${i} in register${i % 3}\n")
      .mkString)
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        try {
          for (i <- 0 until 6 if !stop.get()) {
            val body = s"churn writer $w round $i discusses " +
              s"topic${w}x$i alongside nuance${(w + i) % 5}"
            // a drained optimistic-commit budget is the DOCUMENTED
            // loser outcome under sustained contention (the engine
            // retries 5 times internally) — the caller's move is to
            // retry the save, which is what a real ingest loop does;
            // only the serving invariants below are under test here
            var done = false
            while (!done) {
              try { engine.save(s"---\nbody: $body\n"); done = true }
              catch { case _: MemoEngine.ConcurrentCommitException =>
                Thread.sleep(50) }
            }
            committed.add(body)
          }
        } catch { case e: Throwable => errors.add(s"writer $w: $e") }
      })
    }
    val probers = Seq("ann", "pq").map { kind =>
      new Thread(() => {
        try {
          while (!stop.get()) {
            val snapshot = committed.toArray(Array.empty[String])
            if (snapshot.nonEmpty) {
              val body = snapshot(
                java.util.concurrent.ThreadLocalRandom.current()
                  .nextInt(snapshot.length))
              val rows =
                if (kind == "ann") engine.annRecall(body, k = 8).collect()
                else engine.pqRecall(body, k = 8, nprobe = 8, refine = 8)
                  .collect()
              val ids = rows.map(_.getAs[Long]("id"))
              if (ids.distinct.length != ids.length)
                errors.add(s"$kind probe surfaced duplicate ids " +
                  s"(re-append symptom): ${ids.mkString(",")}")
              if (!rows.map(_.getAs[String]("body")).contains(body))
                errors.add(s"$kind probe missing committed doc '$body' — " +
                  "artifact served behind a completed commit")
            } else Thread.sleep(20)
          }
        } catch { case e: Throwable => errors.add(s"$kind prober: $e") }
      })
    }
    writers.foreach(_.start()); probers.foreach(_.start())
    writers.foreach(_.join())
    // let the probers observe the fully-committed tail, then stop
    Thread.sleep(1500)
    stop.set(true); probers.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
    // quiesced: one more catch-up, then the artifact holds exactly the
    // store's rows — nothing missing, nothing duplicated
    engine.annRecall("churn", k = 1).collect()
    engine.pqRecall("churn", k = 1).collect()
    val n = engine.index.count()
    val ivfIds = graft.ops.IvfIndex.load(spark, s"$db/_ann")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ivfIds.length.toLong == n && ivfIds.distinct.length.toLong == n,
      s"ANN artifact holds ${ivfIds.length} rows for a $n-row store")
    engine.clean()
  }

  test("time travel: versions / recordsAt, retention-gated vacuum") {
    val (engine, _) = freshEngine()
    engine.save("---\nbody: first note\n") // v0 snapshot
    engine.save("---\nbody: second note\n") // v1 append delta (references v0)
    engine.save("---\nid: 0\nbody: replaced\n") // v2 overwrite → patch (r12)
    assert(engine.versions == Seq(0L, 1L, 2L))
    assert(engine.recordsAt(0).collect().map(_.getString(1)).toSeq ==
      Seq("first note"))
    assert(engine.recordsAt(1).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("first note", "second note"))
    assert(engine.recordsAt(2).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("replaced", "second note"))
    assert(engine.indexAt(1).count() == 2)
    // history: v0 snapshot, v1 append delta (fan-in 2), v2 overwrite —
    // a PATCH commit since r12 (v1's untouched delta rides by reference,
    // fan-in stays 2), classified snapshot (non-extending manifest)
    val hist = engine.history.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(hist == Seq((0L, "snapshot", 1), (1L, "append", 2),
      (2L, "snapshot", 2)), s"got $hist")
    // a pinned-version recall reproduces the PAST ranking: "first note"
    // was overwritten in v2, but at v1 it is still the top hit
    val at1 = engine.recallAt(1, "first note", k = 1).collect()
    assert(at1.head.getAs[String]("body") == "first note")
    assert(engine.recall("first note", k = 2).collect()
      .map(_.getAs[String]("body")).forall(_ != "first note"))
    // never-committed version: loud, not empty
    intercept[IllegalArgumentException](engine.recordsAt(7))
    // retaining {v1, v2} must ALSO keep v0's dir: v1's manifest references
    // its segment — retention is manifest-reachability, not a dir count
    assert(engine.vacuum(retainVersions = 2) == 0)
    assert(engine.versions == Seq(0L, 1L, 2L))
    assert(engine.recordsAt(1).count() == 2)
    // pinned-version export materializes the PAST dataset, not the live one
    val expDir = Files.createTempDirectory("tt_export").toString + "/v1"
    engine.exportJsonlPath(expDir, atVersion = Some(1L))
    val exported = spark.read.json(expDir).collect()
      .map(_.getAs[String]("body")).toSet
    assert(exported == Set("first note", "second note"), s"got $exported")
    // a snapshot read RESOLVED before a vacuum that reclaims it fails
    // LOUDLY at execution — never a silently short result (version dirs
    // are never recreated: CURRENT is monotone, so no ABA path exists)
    val held = engine.recordsAt(1)
    // shrink to live-only (the default): v0 is reclaimed outright; v1's
    // DIR survives because the live patch manifest references its delta
    // segment, but v1 the VERSION is no longer resolvable (its own
    // manifest needs v0's segment) and drops out of `versions`
    assert(engine.vacuum() == 1)
    assert(engine.versions == Seq(2L))
    intercept[IllegalArgumentException](engine.recordsAt(1))
    intercept[org.apache.spark.SparkException](held.count())
    assert(engine.records.count() == 2)
    engine.clean()
  }

  test("restore rolls the live table back as a NEW commit; history intact") {
    val (engine, _) = freshEngine()
    engine.save("---\nbody: first note\n") // v0
    engine.save("---\nbody: second note\n") // v1
    engine.save("---\nid: 0\nbody: replaced\n") // v2
    val before = graft.functions.VectorKernels.embedCalls.get()
    assert(engine.restore(1) == 3)
    // zero re-embedding: the index at v1 is copied forward verbatim
    assert(graft.functions.VectorKernels.embedCalls.get() == before,
      "restore must reuse the historical index, not re-embed")
    assert(engine.records.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("first note", "second note"))
    assert(engine.index.count() == 2)
    // the rollback is itself history: a changefeed across it reports the
    // undo, and the rolled-PAST version stays readable
    val feed = engine.changesBetween(2, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(feed == Seq((0L, "updated", "first note")), s"got $feed")
    assert(engine.recordsAt(2).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("replaced", "second note"))
    // recall serves the restored corpus off the copied index
    assert(engine.recall("first note", k = 1).collect()
      .head.getAs[String]("body") == "first note")
    engine.clean()
  }

  test("restore: all four maintained artifacts converge through the rewrite arm") {
    // restore is the THIRD chain-rewrite path (after overwrite-save and
    // reindex): the restored version's records manifest is a fresh
    // snapshot, so every ensure* must take its rebuild-from-CAPTURED-
    // version arm. A doc the restore rolled PAST must vanish from ANN,
    // compressed-ANN, and hybrid serving, and its signature must stop
    // gating admission — while the restored corpus still gates its dups.
    import spark.implicits._
    val (engine, _) = freshEngine()
    engine.save((0 until 24).map(i =>
      s"---\nbody: ledger entry $i cares about sector${i % 5} and " +
        s"metric${i % 3} throughput\n").mkString) // v0
    val undone = "the retracted xylophone appendix enumerates vermilion " +
      "flanges and nougat provisioning"
    engine.save(s"---\nbody: $undone\n") // v1, id 24
    // warm all four families at v1 (artifact watermark = v1)
    assert(engine.annRecall(undone, k = 1).collect()
      .headOption.exists(_.getAs[String]("body") == undone))
    assert(engine.pqRecall(undone, k = 3).collect()
      .map(_.getAs[String]("body")).contains(undone))
    assert(engine.hybridRecall("xylophone vermilion nougat", k = 3).collect()
      .map(_.getAs[String]("body")).contains(undone))
    assert(engine.admitNew(Seq((700L, undone)).toDF("id", "body")).count() == 0)
    // roll back past the doc: a rewrite commit, not an append
    engine.restore(0)
    val liveBodies = engine.records.select("body").collect()
      .map(_.getString(0)).toSet
    assert(!liveBodies.contains(undone))
    val ann = engine.annRecall(undone, k = 5).collect()
    assert(ann.nonEmpty && ann.forall(r =>
      liveBodies.contains(r.getAs[String]("body"))),
      "post-restore ANN served a rolled-back doc")
    val pq = engine.pqRecall(undone, k = 5).collect()
    assert(pq.nonEmpty && pq.forall(r =>
      liveBodies.contains(r.getAs[String]("body"))),
      "post-restore PQ ANN served a rolled-back doc")
    val hyb = engine.hybridRecall("xylophone vermilion nougat", k = 5).collect()
    assert(hyb.nonEmpty && hyb.forall(r =>
      liveBodies.contains(r.getAs[String]("body"))),
      "post-restore hybrid recall served a rolled-back doc")
    val readmit = engine.admitNew(Seq(
      (800L, undone),
      (801L, "ledger entry 7 cares about sector2 and metric1 throughput"))
      .toDF("id", "body")).collect().map(_.getLong(0)).toSet
    assert(readmit == Set(800L),
      s"post-restore admission wrong: $readmit (rolled-back doc must " +
        "re-admit, restored-corpus dup must still gate)")
    engine.clean()
  }

  test("restore races concurrent savers: every commit lands, chain stays dense") {
    // restore's CAS loop must compose with live writers exactly like any
    // other commit: losers retry from fresh state, nobody's version is
    // overwritten, and the final chain is dense (every version 0..max
    // resolvable). The restored CONTENT always equals the target
    // version's records regardless of which racer won each CAS.
    val (engine, _) = freshEngine()
    engine.save("---\nbody: base alpha fact\n") // v0
    engine.save("---\nbody: base beta fact\n") // v1
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def retrying(f: => Unit): Unit = {
      var done = false
      while (!done) {
        try { f; done = true }
        catch { case _: MemoEngine.ConcurrentCommitException =>
          Thread.sleep(30) }
      }
    }
    val saver = new Thread(() => {
      try for (i <- 0 until 6) {
        retrying(engine.save(s"---\nbody: racer note $i about topic$i\n"))
      } catch { case e: Throwable => errors.add(s"saver: $e") }
    })
    val restorer = new Thread(() => {
      try for (_ <- 0 until 3) {
        // a drained internal retry budget is the documented loser
        // outcome under sustained contention — the caller retries,
        // same as the saver loop
        var nv = -1L
        while (nv < 0) {
          try nv = engine.restore(1)
          catch { case _: MemoEngine.ConcurrentCommitException =>
            Thread.sleep(30) }
        }
        // the committed rollback must hold exactly v1's records
        val got = engine.recordsAt(nv).select("body").collect()
          .map(_.getString(0)).toSet
        if (got != Set("base alpha fact", "base beta fact"))
          errors.add(s"restore@v$nv holds $got")
      } catch { case e: Throwable => errors.add(s"restorer: $e") }
    })
    saver.start(); restorer.start(); saver.join(); restorer.join()
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
    val vs = engine.versions
    assert(vs == (0L to vs.max).toSeq,
      s"version chain not dense: $vs") // 2 seeds + 6 saves + 3 restores
    assert(vs.max == 10, s"expected 11 commits, chain is $vs")
    engine.clean()
  }

  test("shallow clone: zero-copy branch — writable, isolated, loud when source vacuums") {
    val (engine, db) = freshEngine()
    engine.save("---\nbody: shared corpus alpha\n---\nbody: shared corpus beta\n")
    engine.save("---\nbody: shared corpus gamma\n") // v1 live
    val target = Files.createTempDirectory("memo_clone").toString + "/branch"
    val before = graft.functions.VectorKernels.embedCalls.get()
    val branch = engine.cloneTo(target)
    // zero copy, zero re-embedding: no records/index data lives under the
    // clone — its v0 manifests reference the source's segment dirs
    assert(graft.functions.VectorKernels.embedCalls.get() == before)
    val v0 = java.nio.file.Paths.get(target, "v0")
    assert(!Files.exists(v0.resolve("records")) &&
      !Files.exists(v0.resolve("index")),
      "shallow clone must not copy data dirs")
    assert(branch.records.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("shared corpus alpha", "shared corpus beta", "shared corpus gamma"))
    assert(branch.clonedFrom.contains(s"$db@v1"))
    // new lineage: the stream watermark must NOT carry over
    assert(!Files.exists(v0.resolve("stream_batch")))
    // the branch is writable and the source never sees its commits
    branch.save("---\nbody: branch-only experiment note\n")
    assert(branch.records.count() == 4 && engine.records.count() == 3)
    // a second clone to the same path refuses
    intercept[IllegalArgumentException](engine.cloneTo(target))
    // a rewrite commit localizes the branch; after that the source can
    // vacuum its history away and the branch keeps serving
    branch.reindex()
    engine.save("---\nid: 0\nbody: source rewrote itself\n") // snapshot v2
    engine.vacuum(retainVersions = 1)
    assert(branch.records.count() == 4, "localized branch lost rows")
    // an UN-localized clone of vacuumed history fails loudly, not partially
    val stale = engine.cloneTo(target + "2", version = Some(2))
    engine.save("---\nid: 0\nbody: source rewrote again\n")
    engine.vacuum(retainVersions = 1) // reclaims v2, which stale references
    intercept[Exception](stale.records.count())
    assert(stale.versions.isEmpty, "broken clone must drop from versions")
    branch.clean(); engine.clean()
  }

  test("shallow clone: maintained artifacts build under the BRANCH, source untouched") {
    // ensure* on a branch must lay its IVF/postings/signature artifacts
    // under the branch's own base — a clone that wrote into the source's
    // artifact dirs would corrupt the source's version watermarks
    val (engine, db) = freshEngine()
    engine.save((0 until 12).map(i =>
      s"---\nbody: branch corpus item $i about theme${i % 4}\n").mkString)
    // warm the SOURCE artifact first so both stores have one
    engine.annRecall("branch corpus theme1", k = 2).collect()
    val srcIvf = java.nio.file.Paths.get(db, "_ann")
    def mtimes(p: java.nio.file.Path): Map[String, Long] = {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(q =>
          q.toString -> java.nio.file.Files.getLastModifiedTime(q).toMillis)
          .toMap
      } finally walk.close()
    }
    val before = mtimes(srcIvf)
    val target = Files.createTempDirectory("memo_clone").toString + "/b"
    val branch = engine.cloneTo(target)
    val got = branch.annRecall("branch corpus theme1", k = 2).collect()
    assert(got.nonEmpty)
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(target, "_ann")),
      "branch ANN artifact must live under the branch base")
    assert(mtimes(srcIvf) == before,
      "branch ensureIvf touched the SOURCE artifact")
    branch.clean(); engine.clean()
  }

  test("deep clone: independent copy, still zero re-embedding") {
    val (engine, db) = freshEngine()
    engine.save("---\nbody: durable fact one\n---\nbody: durable fact two\n")
    val target = Files.createTempDirectory("memo_clone").toString + "/copy"
    val before = graft.functions.VectorKernels.embedCalls.get()
    val copy = engine.cloneTo(target, deep = true)
    assert(graft.functions.VectorKernels.embedCalls.get() == before,
      "deep clone must copy the index, not re-embed")
    assert(copy.clonedFrom.contains(s"$db@v0 deep"))
    // fully independent: destroy the source, the copy still serves
    engine.clean()
    assert(copy.records.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("durable fact one", "durable fact two"))
    assert(copy.recall("durable fact one", k = 1).collect()
      .head.getAs[String]("body") == "durable fact one")
    copy.clean()
  }

  test("CDC outbox: emitChanges + changeLogStream deliver the feed exactly once") {
    val (engine, _) = freshEngine()
    engine.save("---\nbody: cdc alpha\n---\nbody: cdc beta\n") // v0
    engine.save("---\nbody: cdc gamma\n") // v1 append
    engine.save("---\nid: 0\nbody: cdc alpha amended\n") // v2 rewrite
    val log = Files.createTempDirectory("memo_cdc").toString
    assert(engine.emitChanges(log) == Seq(0L, 1L, 2L))
    // the log IS the cursor: a re-run emits nothing (crash-safe resume)
    assert(engine.emitChanges(log).isEmpty)
    // batch audit over the whole log: bootstrap adds, append add, update
    val all = spark.read.schema(MemoEngine.ChangeLogSchema)
      .parquet(s"$log/commit-*")
      .orderBy("commit_version", "id").collect()
      .map(r => (r.getLong(4), r.getLong(0), r.getString(1))).toSeq
    assert(all == Seq((0L, 0L, "added"), (0L, 1L, "added"),
      (1L, 2L, "added"), (2L, 0L, "updated")), s"got $all")
    // streaming consumption off the standard file source: checkpointed
    // file tracking makes incremental delivery exactly-once
    val ckpt = Files.createTempDirectory("memo_cdc_ckpt").toString
    val sink = Files.createTempDirectory("memo_cdc_sink").toString
    def drain(): Unit = {
      val q = engine.changeLogStream(log).writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(sink).count() == 4)
    engine.save("---\nbody: cdc delta arrives later\n") // v3
    assert(engine.emitChanges(log) == Seq(3L))
    drain() // second run ships ONLY the new commit's rows
    val after = spark.read.parquet(sink)
    assert(after.count() == 5)
    assert(after.filter("commit_version = 3").count() == 1)
    // retention: prune the bootstrap prefix — the marker advances, the
    // retired dirs die, and a re-emit does NOT resurrect them (the
    // pruned prefix would otherwise silently un-prune on the next call)
    assert(engine.pruneChangeLog(log, keepFrom = 2) == 2) // commit-0, -1
    assert(engine.earliestChange(log) == 2)
    assert(engine.emitChanges(log).isEmpty,
      "emit resurrected a pruned prefix")
    assert(spark.read.schema(MemoEngine.ChangeLogSchema)
      .parquet(s"$log/commit-*").select("commit_version").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // emission continues above the horizon
    engine.save("---\nbody: cdc epsilon after prune\n") // v4
    assert(engine.emitChanges(log) == Seq(4L))
    // vacuum outrunning emission: the log refuses to go gappy, loudly
    val (e2, _) = freshEngine()
    e2.save("---\nbody: gap one\n")
    e2.save("---\nid: 0\nbody: gap one rewritten\n") // v1 snapshot
    e2.vacuum(retainVersions = 1)
    val log2 = Files.createTempDirectory("memo_cdc2").toString
    intercept[IllegalArgumentException](e2.emitChanges(log2))
    e2.clean(); engine.clean()
  }

  test("log-shipping replication: a follower converges through the CDC log") {
    val (leader, _) = freshEngine()
    leader.save("---\nbody: repl alpha\n---\nbody: repl beta\n") // v0
    leader.save("---\nbody: repl gamma\n") // v1
    leader.save("---\nid: 1\nbody: repl beta revised\n") // v2 update
    val log = Files.createTempDirectory("memo_repl_log").toString
    leader.emitChanges(log)
    val (follower, followerDb) = freshEngine()
    val ckpt = Files.createTempDirectory("memo_repl_ckpt").toString
    follower.replicateFrom(log, ckpt)
    def state(e: MemoEngine) = e.records.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state(follower) == state(leader), "follower diverged after catch-up")
    // the replicated index serves recall (embeddings were derived on apply)
    assert(follower.recall("repl beta revised", k = 1).collect()
      .head.getAs[String]("body") == "repl beta revised")
    // a drained log is a no-op: no new files → no new follower commit
    val vBefore = follower.versions.max
    follower.replicateFrom(log, ckpt)
    assert(follower.versions.max == vBefore)
    // deletes + re-sequencing replicate too: soft-delete a leader row,
    // compact (ids renumber — the feed carries the net updates+remove),
    // emit, catch up, and the follower matches the leader exactly
    leader.save(
      "---\nid: 0\nbody: repl alpha\nmetadata: {deleted: true}\n") // v3
    leader.reindex() // v4: drops id 0, re-sequences survivors
    leader.emitChanges(log)
    follower.replicateFrom(log, ckpt)
    assert(state(follower) == state(leader),
      "follower diverged across a delete+compaction cycle")
    assert(state(follower).map(_._2) ==
      Seq("repl beta revised", "repl gamma"))
    // the steady state — replicating a pure append — must land as an
    // APPEND DELTA on the follower (O(batch), not an O(corpus) rewrite)
    leader.save("---\nbody: repl epsilon appended later\n")
    leader.emitChanges(log)
    follower.replicateFrom(log, ckpt)
    assert(state(follower) == state(leader))
    val lastKind = follower.history
      .orderBy(org.apache.spark.sql.functions.desc("version"))
      .select("kind").collect().head.getString(0)
    assert(lastKind == "append",
      s"append-only batch applied as $lastKind — the O(batch) arm regressed")
    // replicateFrom(maintainEvery = 1): the follower's maintained
    // artifacts come current INSIDE the replication call (the
    // streamSink cadence on the apply path) — no first-read catch-up
    leader.save("---\nbody: repl zeta for the maintained follower\n")
    leader.emitChanges(log)
    follower.replicateFrom(log, ckpt, maintainEvery = 1)
    assert(state(follower) == state(leader))
    val mark = graft.ops.ArtifactMeta.read(spark,
      s"$followerDb/_lexical", "_store_version")
    assert(mark.flatMap(_.toLongOption)
        .contains(follower.versions.max),
      s"maintainEvery follower left the postings artifact stale: $mark " +
        s"vs ${follower.versions.max}")
    follower.clean(); leader.clean()
  }

  test("changefeed: append fast path is delta-scan-only; rewrites classify") {
    val (engine, _) = freshEngine()
    engine.save("---\nbody: first note\n") // v0
    engine.save("---\nbody: second note\n---\nbody: third note\n") // v1 append
    // pure-append window: decided from the manifests alone — no join in the
    // plan, and ONLY the delta segment's files are scanned
    val feed = engine.changesBetween(0, 1)
    assert(feed.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "append-window changefeed must not join")
    assert(feed.inputFiles.forall(_.contains("/v1/")),
      s"fast path must scan only v1's delta: ${feed.inputFiles.toSeq}")
    assert(feed.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "added", "second note"), (2L, "added", "third note")))
    // a rewrite (overwrite snapshot) breaks the chain → join classification;
    // unchanged rows must NOT surface
    engine.save("---\nid: 0\nbody: replaced\n") // v2
    val upd = engine.changesBetween(1, 2).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(upd == Seq((0L, "updated", "replaced")), s"got $upd")
    // removal via the real path: soft-delete + reindex (re-sequences ids;
    // the feed reports the id-space honestly)
    engine.save("---\nid: 1\nbody: second note\nmetadata: {deleted: true}\n")
    val v3 = engine.versions.max
    assert(engine.reindex() == 1)
    val v4 = engine.versions.max
    val post = engine.changesBetween(v3, v4).orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq
    // id 0 ("replaced") is untouched and must NOT surface; id 1 was the
    // tombstoned row and now holds the re-sequenced survivor (updated);
    // id 2 vanished in the dense re-sequence (removed)
    assert(post == Seq((1L, "updated"), (2L, "removed")), s"got $post")
    engine.clean()
  }

  test("retention guard: pruneChangeLog cannot outrun emission") {
    val (engine, _) = freshEngine()
    engine.save("---\nbody: frontier one\n") // v0
    engine.save("---\nbody: frontier two\n") // v1
    val log = Files.createTempDirectory("memo_cdc_frontier").toString
    assert(engine.emitChanges(log) == Seq(0L, 1L))
    // keepFrom == maxEmitted+1 retires everything emitted — legal
    assert(engine.pruneChangeLog(log, keepFrom = 2) == 2)
    // …but past the emission frontier the marker would skip versions
    // emitChanges never wrote: the silent-gap class, refused loudly
    engine.save("---\nbody: frontier three unemitted\n") // v2, NOT emitted
    val e = intercept[IllegalArgumentException](
      engine.pruneChangeLog(log, keepFrom = 3))
    assert(e.getMessage.contains("emission frontier"), e.getMessage)
    // emitting first makes the same keepFrom legal
    assert(engine.emitChanges(log) == Seq(2L))
    assert(engine.pruneChangeLog(log, keepFrom = 3) == 1)
    engine.clean()
  }

  test("safePruneHorizon: follower checkpoints gate retention") {
    val (leader, _) = freshEngine()
    leader.save("---\nbody: horizon alpha\n") // v0
    leader.save("---\nbody: horizon beta\n") // v1
    val log = Files.createTempDirectory("memo_cdc_horizon").toString
    leader.emitChanges(log)
    // follower A catches up on commits 0..1; follower B never starts
    val (fa, _) = freshEngine()
    val ckptA = Files.createTempDirectory("memo_cdc_ckpt_a").toString
    val ckptB = Files.createTempDirectory("memo_cdc_ckpt_b").toString
    fa.replicateFrom(log, ckptA)
    // more commits land and are emitted; A does NOT re-run yet
    leader.save("---\nbody: horizon gamma\n") // v2
    leader.emitChanges(log)
    // A's durable progress is commits 0..1 → its horizon is 2; B has no
    // committed batch at all → it pins the horizon at earliest (0)
    assert(leader.safePruneHorizon(log, Seq(ckptA)) == 2L)
    assert(leader.safePruneHorizon(log, Seq(ckptA, ckptB)) == 0L)
    // the safe API derives keepFrom — through it, pruning a commit a
    // registered consumer still needs is impossible by construction
    assert(leader.pruneChangeLogSafe(log, Seq(ckptA, ckptB)) == (0L, 0))
    assert(leader.earliestChange(log) == 0L)
    val (h, removed) = leader.pruneChangeLogSafe(log, Seq(ckptA))
    assert(h == 2L && removed == 2, s"got ($h, $removed)")
    // A resumes against the pruned log and still converges: everything
    // at/above its horizon survived
    fa.replicateFrom(log, ckptA)
    def state(e: MemoEngine) = e.records.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state(fa) == state(leader), "follower lost rows to a safe prune")
    // fully-caught-up consumer: horizon = emission frontier
    assert(leader.safePruneHorizon(log, Seq(ckptA)) == 3L)
    // no registered consumers is not "prune everything" — it is an error
    intercept[IllegalArgumentException](
      leader.safePruneHorizon(log, Seq.empty))
    fa.clean(); leader.clean()
  }

  test("bulk CDC backfill: parallel emission produces the sequential log") {
    val (engine, _) = freshEngine()
    (0 until 7).foreach(i =>
      engine.save(s"---\nbody: backfill note $i\n")) // v0..v6
    engine.save("---\nid: 2\nbody: backfill note 2 amended\n") // v7 rewrite
    val seqLog = Files.createTempDirectory("memo_cdc_seq").toString
    val parLog = Files.createTempDirectory("memo_cdc_par").toString
    assert(engine.emitChanges(seqLog, parallelism = 1) == (0L to 7L))
    assert(engine.emitChanges(parLog, parallelism = 4) == (0L to 7L))
    // same commits, same rows, commit by commit
    def logRows(dir: String) = spark.read
      .schema(MemoEngine.ChangeLogSchema).parquet(s"$dir/commit-*")
      .orderBy("commit_version", "id").collect()
      .map(r => (r.getLong(4), r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq
    assert(logRows(parLog) == logRows(seqLog))
    // idempotent: a re-run of the parallel path emits nothing
    assert(engine.emitChanges(parLog, parallelism = 4).isEmpty)
    // no staging corpses survive the pool
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(java.nio.file.Paths.get(parLog))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".emit-")).toSeq
    assert(leftovers.isEmpty, s"staging corpses: $leftovers")
    engine.clean()
  }

  test("applyChanges: id-watermark shortcut proves disjointness without a join") {
    import spark.implicits._
    val (follower, _) = freshEngine()
    val phases = scala.collection.mutable.Map[String, Int]()
    follower.commitPhaseHook =
      (ph, _) => phases.synchronized { phases(ph) = phases.getOrElse(ph, 0) + 1 }
    def feed(rows: Seq[(Long, String, String)]) = rows
      .toDF("id", "change", "body")
      .withColumn("metadata", org.apache.spark.sql.functions
        .map(org.apache.spark.sql.functions.lit("k"),
          org.apache.spark.sql.functions.lit("v")))
      .withColumn("commit_version", org.apache.spark.sql.functions.lit(0L))
    try {
      follower.applyChanges(feed(Seq((0L, "added", "wm zero"))))
      phases.clear()
      // batch 2: pure adds, min id (1) > store max (0) — the first batch
      // pays ONE priming max(id) probe, then the watermark decides alone
      follower.applyChanges(feed(Seq((1L, "added", "wm one"),
        (2L, "added", "wm two"))))
      assert(phases.getOrElse("probe", 0) == 1,
        s"expected exactly the priming max-id scan, got $phases")
      assert(follower.history.orderBy(
        org.apache.spark.sql.functions.desc("version"))
        .select("kind").collect().head.getString(0) == "append")
      phases.clear()
      // batch 3: memo is warm from our own commit — ZERO probe jobs
      follower.applyChanges(feed(Seq((3L, "added", "wm three"))))
      assert(phases.getOrElse("probe", 0) == 0,
        s"warm watermark still probed the chain: $phases")
      // a REPLAYED add (id collides) fails the watermark, takes the
      // overlap probe, and lands as the content-idempotent merge
      phases.clear()
      follower.applyChanges(feed(Seq((3L, "added", "wm three"))))
      assert(phases.getOrElse("probe", 0) >= 1,
        s"colliding batch skipped the probe: $phases")
      val st = follower.records.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(st == Seq((0L, "wm zero"), (1L, "wm one"), (2L, "wm two"),
        (3L, "wm three")), s"got $st")
      // removes always take the merge arm and converge
      follower.applyChanges(feed(Seq((1L, "removed", "wm one"))))
      assert(follower.records.orderBy("id").collect().map(_.getLong(0))
        .toSeq == Seq(0L, 2L, 3L))
    } finally follower.commitPhaseHook = null
    follower.clean()
  }

  test("ids stay distinct after clean(): no mint and no add watermark " +
      "reads the dropped store's max id, whether the same engine or a " +
      "second one drops and refills the store") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, map}
    def feed(id: Long, body: String) = Seq((id, "added", body))
      .toDF("id", "change", "body")
      .withColumn("metadata", map(lit("k"), lit("v")))
      .withColumn("commit_version", lit(0L))
    def rows(e: MemoEngine): Seq[(Long, String)] = e.records.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    Seq(false, true).foreach { viaOther =>
      // streamAppend mints from the memo its first batch left behind
      val (e, db) = freshEngine()
      val other = if (viaOther) new MemoEngine(spark, db) else e
      e.streamAppend(Seq("stream before clean").toDF("body"), 0L)
      other.clean()
      other.save("---\nbody: s0\n---\nbody: s1\n---\nbody: s2\n")
      e.streamAppend(Seq("stream after clean").toDF("body"), 1L)
      assert(rows(e) == Seq((0L, "s0"), (1L, "s1"), (2L, "s2"),
        (3L, "stream after clean")), s"viaOther=$viaOther: ${rows(e)}")
      e.clean()
    }
    Seq(false, true).foreach { viaOther =>
      // applyChanges proves adds disjoint from the memoized max id
      val (e, db) = freshEngine()
      val other = if (viaOther) new MemoEngine(spark, db) else e
      e.applyChanges(feed(0L, "x0"))
      e.applyChanges(feed(1L, "x1"))
      other.clean()
      other.save("---\nbody: p\n---\nbody: q\n")
      other.save("---\nbody: r\n---\nbody: s\n")
      e.applyChanges(feed(2L, "x2"))
      // the add collides with the saved id 2, so it upserts over it
      assert(rows(e) == Seq((0L, "p"), (1L, "q"), (2L, "x2"), (3L, "s")),
        s"viaOther=$viaOther: ${rows(e)}")
      e.clean()
    }
  }

  test("branch CDC contract: a clone emits a NEW lineage with a full bootstrap") {
    val (engine, base) = freshEngine()
    engine.save("---\nbody: branch cdc one\n") // v0
    engine.save("---\nbody: branch cdc two\n") // v1 append
    val srcLog = Files.createTempDirectory("memo_cdc_src").toString
    engine.emitChanges(srcLog)
    val branch = engine.cloneTo(s"$base-branch")
    val brLog = Files.createTempDirectory("memo_cdc_branch").toString
    // the branch's log starts at ITS commit-0: a full-state bootstrap of
    // the cloned state (every row as `added`), not a pointer into the
    // source's log — a branch is a new CDC lineage, so branch consumers
    // never depend on the source log's retention and source consumers
    // never see branch commits
    assert(branch.emitChanges(brLog) == Seq(0L))
    val boot = spark.read.schema(MemoEngine.ChangeLogSchema)
      .parquet(s"$brLog/commit-0").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(boot == Seq((0L, "added", "branch cdc one"),
      (1L, "added", "branch cdc two")), s"got $boot")
    // a follower bootstrapped purely from the branch log matches the branch
    val (fb, _) = freshEngine()
    val ckpt = Files.createTempDirectory("memo_cdc_branch_ckpt").toString
    fb.replicateFrom(brLog, ckpt)
    assert(fb.records.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("branch cdc one", "branch cdc two"))
    // divergence after the branch point stays in its own lineage
    branch.save("---\nbody: branch-only note\n")
    branch.emitChanges(brLog)
    assert(engine.emitChanges(srcLog).isEmpty,
      "branch commit leaked into the source lineage")
    fb.replicateFrom(brLog, ckpt)
    assert(fb.records.count() == 3)
    fb.clean(); branch.clean(); engine.clean()
  }

  test("history: a shallow clone's v0 is a snapshot, not an inflated append") {
    val (engine, base) = freshEngine()
    engine.save("---\nbody: kind one\n") // v0
    engine.save("---\nbody: kind two\n") // v1 append (fan-in 2)
    val branch = engine.cloneTo(s"$base-kindbranch")
    // v0 of the clone references the SOURCE's two segment dirs in place —
    // structurally multi-segment, semantically a full snapshot
    val kinds = branch.history.orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(kinds == Seq((0L, "snapshot", 2)), s"got $kinds")
    branch.save("---\nbody: kind three on branch\n")
    assert(branch.history.orderBy("version").collect()
      .map(_.getString(1)).toSeq == Seq("snapshot", "append"))
    // restore writes a non-extending manifest (a prefix of the live
    // chain) — that is a snapshot commit too, not an "append"
    engine.restore(0)
    assert(engine.history.orderBy("version").collect()
      .map(_.getString(1)).toSeq == Seq("snapshot", "append", "snapshot"))
    branch.clean(); engine.clean()
  }

  test("segment-pruned merge: an update rewrites ONLY the touched segments") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val (engine, base) = freshEngine()
    // four append segments with disjoint id ranges: {0,1} {2,3} {4,5} {6,7}
    (0 until 4).foreach(i => engine.save(
      s"---\nbody: patchseg $i row a\n---\nbody: patchseg $i row b\n"))
    def manifest(v: Long) = Files.readAllLines(java.nio.file.Paths
      .get(base, s"v$v", "records.manifest")).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
    val m3 = manifest(3)
    assert(m3.size == 4, s"expected a 4-segment chain, got $m3")
    def feed(rows: Seq[(Long, String, String)]) = rows
      .toDF("id", "change", "body")
      .withColumn("metadata", org.apache.spark.sql.functions
        .map(org.apache.spark.sql.functions.lit("k"),
          org.apache.spark.sql.functions.lit("v")))
      .withColumn("commit_version", org.apache.spark.sql.functions.lit(0L))
    // update id 5 — lives in the third segment; every other segment must
    // survive into v4's manifest BY REFERENCE, with one new patch dir
    val before = graft.functions.VectorKernels.embedCalls.get()
    engine.applyChanges(feed(Seq((5L, "updated", "patchseg 2 row b amended"))))
    val embeds = graft.functions.VectorKernels.embedCalls.get() - before
    assert(embeds >= 1 && embeds <= 2,
      s"patch should embed ONLY the updated row, measured $embeds")
    val m4 = manifest(4)
    assert(m4.size == 4, s"got $m4")
    assert(m4.containsSlice(Seq(m3(0), m3(1))) && m4.contains(m3(3)),
      s"untouched segments not carried by reference: $m4 vs $m3")
    assert(!m4.contains(m3(2)), s"touched segment still referenced: $m4")
    assert(m4.last.endsWith("v4/records"), s"no fresh patch segment: $m4")
    val st = engine.records.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(st.size == 8 && st(5) == (5L, "patchseg 2 row b amended"),
      s"got $st")
    // the patched index serves recall and carries NO stale embedding:
    // the amended body ranks for its new words
    assert(engine.recall("amended", k = 1).collect()
      .head.getAs[String]("body").contains("amended"))
    // a REMOVE patches the same way: {2,3}'s segment rewritten, id 2 gone
    engine.applyChanges(feed(Seq((2L, "removed", "patchseg 1 row a"))))
    val m5 = manifest(5)
    assert(m5.size == 4 && !m5.contains(m4.find(_.endsWith("v1/records"))
      .getOrElse("<gone>")), s"got $m5")
    assert(engine.records.count() == 7 &&
      engine.records.filter(org.apache.spark.sql.functions
        .col("id") === 2L).isEmpty)
    // the changefeed classifies ACROSS a patch commit exactly — and a
    // single-step window is served from the feed the patch MATERIALIZED
    // at commit time (O(touched), no full-outer join over the snapshots)
    val feed34 = engine.changesBetween(3, 4)
    assert(feed34.inputFiles.nonEmpty &&
      feed34.inputFiles.forall(_.contains("/v4/changefeed")),
      s"single-step patch window not served from the stored feed: " +
        s"${feed34.inputFiles.take(3).mkString(", ")}")
    val diff = feed34.select("id", "change").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(diff == Seq((5L, "updated")), s"got $diff")
    // stored feed ≡ the classification join it replaces, column for column
    val joined = graft.memo.MemoOps.changeFeed(
      engine.recordsAt(3), engine.recordsAt(4)).orderBy("id").collect()
    assert(feed34.orderBy("id").collect().toSeq == joined.toSeq,
      "stored feed diverged from the classification join")
    // a batch touching EVERY segment falls back to the full rewrite
    engine.applyChanges(feed(Seq((0L, "updated", "patchseg 0 row a v2"),
      (3L, "updated", "patchseg 1 row b v2"),
      (4L, "updated", "patchseg 2 row a v2"),
      (7L, "updated", "patchseg 3 row b v2"))))
    assert(manifest(6) == Seq(java.nio.file.Paths.get(base, "v6", "records")
      .toString), s"all-segments batch should compact: ${manifest(6)}")
    assert(engine.records.count() == 7)
    // the CLI-shaped save OVERWRITE rides the same pruning: rebuild a
    // 3-segment chain, overwrite an id confined to the middle segment —
    // the other two survive into the new manifest by reference
    engine.save("---\nbody: patchseg extra one\n") // v7 append: id 8
    engine.save("---\nbody: patchseg extra two\n") // v8 append: id 9
    val m8 = manifest(8)
    assert(m8.size == 3, s"got $m8")
    engine.save("---\nid: 8\nbody: patchseg extra one amended\n")
    val m9 = manifest(9)
    assert(m9.size == 3 && m9.contains(m8(0)) && m9.contains(m8(2)) &&
      !m9.contains(m8(1)), s"save overwrite did not patch: $m9 vs $m8")
    assert(engine.records.filter(org.apache.spark.sql.functions
      .col("id") === 8L).collect().head.getString(1)
      == "patchseg extra one amended")
    // MULTI-INTERVAL precision: fold the two OUTER segments in one batch
    // (the patch then records two intervals, not one wide [lo,hi]); a
    // later update confined to the id range BETWEEN them must not drag
    // the patch segment back into a rewrite
    engine.applyChanges(feed(Seq((1L, "updated", "patchseg fold lo"),
      (9L, "updated", "patchseg fold hi"))))
    val m10 = manifest(10)
    val patchDir = m10.find(_.endsWith("v10/records")).get
    assert(m10.size == 2, s"got $m10") // [v9's middle segment, the fold]
    engine.applyChanges(feed(Seq((8L, "updated", "patchseg mid again"))))
    val m11 = manifest(11)
    assert(m11.contains(patchDir),
      s"update between the folded intervals rewrote the fold: $m11")
    val fin = engine.records.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fin.filter(t => Set(1L, 8L, 9L)(t._1)) == Seq(
      (1L, "patchseg fold lo"), (8L, "patchseg mid again"),
      (9L, "patchseg fold hi")), s"got $fin")
    // an IDENTICAL-content overwrite patches but changes nothing — the
    // stored feed must be EMPTY (same as the equality-checked join), so
    // no-op saves never pollute the CDC log. Save twice: the first save
    // legitimately differs (YAML metadata is stored type-encoded, the
    // CDC fixture rows were raw), the second is the true no-op.
    val noop = "---\nid: 8\nbody: patchseg mid again\nmetadata: {k: v}\n"
    engine.save(noop)
    engine.save(noop)
    val top = engine.versions.max
    assert(engine.changesBetween(top - 1, top).isEmpty,
      s"no-op overwrite leaked rows into the changefeed: " +
        s"${engine.changesBetween(top - 1, top).collect().toSeq}")
    engine.clean()
  }

  // NOTE on log noise: this test legitimately prints FileNotFoundException
  // lines — the follower's file source re-lists `commit-*` paths that the
  // concurrent pruner retired AFTER the checkpoint marked them processed.
  // Those are the documented loud-transient class: the listing shrugs them
  // off, and `spark.sql.files.ignoreMissingFiles` stays false, so a file
  // lost while still UNPROCESSED would fail the query (and this test) loudly
  // instead of silently skipping rows.
  test("CDC churn: concurrent save/emit/prune/replicate converge gaplessly") {
    val (leader, _) = freshEngine()
    leader.save("---\nbody: churn seed\n")
    val log = Files.createTempDirectory("memo_cdc_churn").toString
    val ckpt = Files.createTempDirectory("memo_cdc_churn_ckpt").toString
    val (follower, _) = freshEngine()
    leader.emitChanges(log)
    follower.replicateFrom(log, ckpt) // register the consumer's checkpoint
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    def loop(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try while (!stop.get()) { body }
        catch { case e: Throwable => errors.add(e); stop.set(true) },
        name)
      t.start(); t
    }
    val nSaves = 12
    val saver = new Thread(() =>
      try (0 until nSaves).foreach(i =>
        leader.save(s"---\nbody: churn note $i\n"))
      catch { case e: Throwable => errors.add(e) }
      finally stop.set(true), "churn-saver")
    saver.start()
    val threads = Seq(
      loop("churn-emit-1")(leader.emitChanges(log)),
      loop("churn-emit-2")(leader.emitChanges(log)),
      loop("churn-prune") {
        leader.pruneChangeLogSafe(log, Seq(ckpt)); Thread.sleep(20)
      },
      loop("churn-follow")(follower.replicateFrom(log, ckpt)))
    saver.join()
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(errors.isEmpty,
      s"churn surfaced: ${errors.asScala.map(_.toString).mkString("; ")}")
    // quiesce: emit the tail, drain the follower, compare exactly
    leader.emitChanges(log)
    follower.replicateFrom(log, ckpt)
    def state(e: MemoEngine) = e.records.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(state(follower) == state(leader),
      "follower diverged under churn")
    assert(follower.records.count() == nSaves + 1)
    assert(follower.records.select("id").distinct().count() ==
      follower.records.count(), "duplicate ids on the follower")
    follower.clean(); leader.clean()
  }
}
