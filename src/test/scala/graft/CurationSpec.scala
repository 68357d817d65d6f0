package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.ops.Curation

/** Curation operators: recall/behavior on MUTATED plants (the oracle
  * queries cover the deterministic twin constructions), scale-shape plan
  * assertions, and equivalence of the two-pass prefix sum against a
  * single-partition window twin. */
class CurationSpec extends SparkTestBase {

  private def docs = Tables(spark, sfDir, "documents")
    .select(col("doc_id"), col("text"))

  test("incremental dedup recovers mutated batch docs against the corpus") {
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" zzzmutation")).as("text"))
    val planted = batch.count()
    val hits = Curation.dedupAgainstCorpus(batch, docs, "doc_id", "text",
        minJaccard = 0.5)
      .filter(col("corpus_id") === col("batch_id") - 100000).count()
    assert(planted > 0)
    // short docs can mutate past the threshold legitimately (as DedupSpec)
    assert(hits >= planted * 9 / 10, s"recovered $hits of $planted")
  }

  test("incremental dedup joins the batch broadcast — corpus side unshuffled") {
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val plan = Curation.dedupAgainstCorpus(batch, docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast join for the batch side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle into a sort-merge join:\n$plan")
  }

  test("admitNew drops twin batch rows, admits genuinely new ones") {
    val twins = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val fresh = spark.createDataFrame(Seq(
      (900001L, "entirely novel document about submarine volcano gardens"),
      (900002L, "another unrelated text mentioning glacial archery rules")))
      .toDF("doc_id", "text")
    val admitted = Curation.admitNew(twins.unionByName(fresh), docs,
      "doc_id", "text", minJaccard = 0.8)
    assert(admitted.filter(col("doc_id") < 900000).count() == 0,
      "twin batch rows must be rejected")
    assert(admitted.filter(col("doc_id") >= 900000).count() == 2,
      "novel batch rows must be admitted")
  }

  test("artifact-backed dedup computes ZERO corpus signatures per batch") {
    import graft.functions.VectorKernels
    import graft.ops.Dedup
    val corpus = docs.select(col("doc_id"), col("text"))
    val nCorpus = corpus.count()
    val sigPath = java.nio.file.Files.createTempDirectory("sigs")
      .resolve("minhash").toString
    // build the artifact once — this is the one corpus-text pass
    Dedup.writeSignatures(corpus, "doc_id", "text", sigPath)
    val sigs = Dedup.loadSignatures(spark, sigPath)
    // batch 1 against the artifact: only the BATCH is minhashed
    val batch1 = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val nBatch1 = batch1.count()
    val before = VectorKernels.minhashCalls.get()
    val hits = Curation.dedupAgainstSignatures(batch1, sigs, "doc_id",
      "text", minJaccard = 0.5).count()
    val cost1 = VectorKernels.minhashCalls.get() - before
    assert(hits >= nBatch1, "artifact path lost the planted twins")
    assert(cost1 <= nBatch1 * 2,
      s"batch-1 dedup ran $cost1 minhash calls for a $nBatch1-row batch " +
        s"(corpus is $nCorpus rows — it was re-signed)")
    // batch 2: same artifact, still zero corpus recompute
    val batch2 = corpus.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    val nBatch2 = batch2.count()
    val before2 = VectorKernels.minhashCalls.get()
    Curation.dedupAgainstSignatures(batch2, sigs, "doc_id", "text",
      minJaccard = 0.5).count()
    val cost2 = VectorKernels.minhashCalls.get() - before2
    assert(cost2 <= nBatch2 * 2,
      s"batch-2 dedup ran $cost2 minhash calls for a $nBatch2-row batch")
  }

  test("deleteSignatures retracts rows: no longer match, stamp validates") {
    import graft.ops.Dedup
    val corpus = docs.select(col("doc_id"), col("text"))
    val sigPath = java.nio.file.Files.createTempDirectory("sigs_del")
      .resolve("minhash").toString
    Dedup.writeSignatures(corpus, "doc_id", "text", sigPath)
    val victims = corpus.filter(col("doc_id") % 13 === 0)
    Dedup.deleteSignatures(victims, "doc_id", "text", sigPath)
    // retracted rows no longer match an identical incoming batch
    val probe = victims.select((col("doc_id") + 500000).as("doc_id"),
      col("text"))
    val hits = Curation.dedupAgainstSignatures(probe,
      Dedup.loadSignatures(spark, sigPath), "doc_id", "text",
      minJaccard = 0.99)
    val victimIds = victims.select("doc_id").collect().map(_.getLong(0)).toSet
    val matched = hits.select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(matched.intersect(victimIds).isEmpty,
      "retracted signatures still matched an incoming twin")
    // retreated stamp validates for the surviving corpus: no re-sign
    val survivors = corpus.filter(col("doc_id") % 13 =!= 0)
    val files = new java.io.File(sigPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    Dedup.signaturesIfAbsent(survivors, "doc_id", "text", sigPath)
    assert(new java.io.File(sigPath).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet == files,
      "signaturesIfAbsent over the survivors must reuse, not re-sign")
  }

  test("a tombstoned id is refused by appendSignatures until a rebuild") {
    import graft.ops.Dedup
    val corpus = docs.select(col("doc_id"), col("text"))
    val sigPath = java.nio.file.Files.createTempDirectory("sigs_reuse")
      .resolve("minhash").toString
    Dedup.writeSignatures(corpus, "doc_id", "text", sigPath)
    val vid = corpus.agg(min("doc_id")).head().getLong(0)
    val reAdd = corpus.filter(col("doc_id") === vid)
    Dedup.deleteSignatures(reAdd, "doc_id", "text", sigPath)
    // the old signature rows are still present: re-signing the id would
    // be masked by the tombstone while the stamp advanced
    val e = intercept[IllegalStateException] {
      Dedup.appendSignatures(reAdd, "doc_id", "text", sigPath)
    }
    assert(e.getMessage.contains("pending delete"), e.getMessage)
    // a full rebuild folds tombstones away; the id is appendable again
    val survivors = corpus.filter(col("doc_id") =!= vid)
    Dedup.writeSignatures(survivors, "doc_id", "text", sigPath)
    Dedup.appendSignatures(reAdd, "doc_id", "text", sigPath)
    val served = Dedup.loadSignatures(spark, sigPath).select("id")
      .collect().map(_.getLong(0))
    assert(served.count(_ == vid) == 1, "re-added id must serve exactly once")
  }

  test("a torn signature append is refused and rebuilt (journal protocol)") {
    import graft.ops.Dedup
    val corpus = docs.select(col("doc_id"), col("text"))
    val sigPath = java.nio.file.Files.createTempDirectory("sigs_torn")
      .resolve("minhash").toString
    Dedup.writeSignatures(corpus, "doc_id", "text", sigPath)
    // crash window: journal present, expected stamp ≠ live
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sigPath, "_minhash_journal"), "999:64:3:fp0\n")
    val e = intercept[IllegalStateException] {
      Dedup.appendSignatures(corpus.limit(3), "doc_id", "text", sigPath)
    }
    assert(e.getMessage.contains("incomplete append"))
    // signaturesIfAbsent sees the torn artifact as stale and rebuilds
    Dedup.signaturesIfAbsent(corpus, "doc_id", "text", sigPath)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(sigPath, "_minhash_journal")))
    assert(Dedup.loadSignatures(spark, sigPath).count() == corpus.count())
  }

  test("ingest admits fresh rows, rejects twins, and appends the artifact") {
    import graft.ops.Dedup
    import spark.implicits._
    val corpus = docs.select(col("doc_id"), col("text"))
    val sigPath = java.nio.file.Files.createTempDirectory("sigs_ing")
      .resolve("minhash").toString
    Dedup.writeSignatures(corpus, "doc_id", "text", sigPath)
    val twins = corpus.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val fresh = Seq(
      (900001L, "completely novel sentence about quantum llama farming"),
      (900002L, "another unseen passage regarding submarine cartography"))
      .toDF("doc_id", "text")
    val admitted = Curation.ingest(twins.unionByName(fresh), "doc_id",
      "text", sigPath)
    assert(admitted.collect().map(_.getLong(0)).toSet ==
      Set(900001L, 900002L), "ingest admitted the wrong rows")
    // artifact grew by exactly the admitted rows
    assert(Dedup.loadSignatures(spark, sigPath).count() ==
      corpus.count() + 2, "artifact row count wrong after append")
    // a re-ingest of the same fresh rows is now rejected BY the artifact
    val again = Curation.ingest(fresh, "doc_id", "text", sigPath)
    assert(again.count() == 0, "re-ingested rows were not deduped")
    admitted.unpersist(); again.unpersist()
  }

  test("one ingest cycle maintains signatures AND the vector index in O(batch)") {
    // the composed steady state a 100 TB pipeline runs per arriving batch:
    // admission against the signature artifact (text side) + index append
    // for the admitted rows (vector side) — no corpus text re-minhashed,
    // no existing index file touched, both stamps advanced so the next
    // cycle validates both artifacts without rebuild
    import graft.functions.VectorKernels
    import graft.ops.{Dedup, IvfIndex}
    import spark.implicits._
    val corpus = docs.select(col("doc_id"), col("text"))
    val emb = Tables(spark, sfDir, "embeddings")
    val dim = emb.select("embedding").head().getSeq[Float](0).length
    val base = java.nio.file.Files.createTempDirectory("ingest_full")
    val sigPath = base.resolve("minhash").toString
    val idxPath = base.resolve("ivfpq").toString
    Dedup.writeSignatures(corpus, "doc_id", "text", sigPath)
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, idxPath,
      pq = Some((8, 16)))
    def indexFiles() = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(idxPath))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }
    val filesBefore = indexFiles()
    // arriving batch: twins (must be rejected) + fresh rows with embeddings
    val twins = corpus.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val fresh = Seq(
      (900001L, "completely novel sentence about quantum llama farming"),
      (900002L, "another unseen passage regarding submarine cartography"))
      .toDF("doc_id", "text")
    val batch = twins.unionByName(fresh)
    val before = VectorKernels.minhashCalls.get()
    val admitted = Curation.ingest(batch, "doc_id", "text", sigPath)
    val cost = VectorKernels.minhashCalls.get() - before
    val nBatch = batch.count()
    assert(cost <= nBatch * 2,
      s"ingest ran $cost minhash calls for a $nBatch-row batch " +
        s"(corpus is ${corpus.count()} rows — it was re-signed)")
    // vector side: embed only the ADMITTED rows, append to the index
    val admittedVecs = admitted.select(col("doc_id").as("vec_id"),
      vecNormalize(embedText(col("text"), dim)).as("embedding"))
    IvfIndex.append(admittedVecs, "vec_id", "embedding", idxPath)
    val filesAfter = indexFiles()
    filesBefore.foreach { case (f, m) =>
      assert(filesAfter.contains(f) && filesAfter(f) == m,
        s"index append rewrote or removed $f during ingest")
    }
    assert(IvfIndex.load(spark, idxPath).count() ==
      emb.count() + admitted.count(), "index lost rows through the cycle")
    // both stamps advanced: the next cycle's freshness checks validate
    val grownCorpus = corpus.unionByName(admitted)
    Dedup.signaturesIfAbsent(grownCorpus, "doc_id", "text", sigPath)
    assert(Dedup.loadSignatures(spark, sigPath).count() ==
      grownCorpus.count(), "signature artifact rebuilt or lost rows")
    assert(indexFiles() == filesAfter,
      "a no-op validation touched the index layout")
    admitted.unpersist()
  }

  test("appendSignatures refuses a path with no artifact") {
    val fresh = docs.limit(1).select(col("doc_id"), col("text"))
    val err = intercept[IllegalStateException] {
      graft.ops.Dedup.appendSignatures(fresh, "doc_id", "text",
        java.nio.file.Files.createTempDirectory("nosigs").toString + "/none")
    }
    assert(err.getMessage.contains("writeSignatures"))
  }

  test("decontaminate flags planted train copies with full shingle overlap") {
    val train = docs.filter(col("doc_id") % 2 === 0)
    val naturalEval = docs.filter(col("doc_id") % 2 === 1)
    val plantedIds = train.filter(col("doc_id") % 10 === 0)
    val evalDf = naturalEval.unionByName(
      plantedIds.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val out = Curation.decontaminate(evalDf, train, "doc_id", "text", n = 3)
    val flagged = out.filter(col("eval_id") >= 100000)
    assert(flagged.count() == plantedIds.count(),
      "every planted train copy must be flagged")
    // a planted copy shares ALL its distinct trigrams with the train set
    val expect = plantedIds
      .select((col("doc_id") + 100000).as("eval_id"),
        size(graft.ops.Dedup.shingles(col("text"), 3)).cast("long")
          .as("n_expected"))
    val mismatched = flagged.join(expect, Seq("eval_id"))
      .filter(col("n_shared") =!= col("n_expected")).count()
    assert(mismatched == 0, "planted copies must share their full shingle set")
  }

  test("snapshot-backed decontamination sweeps never re-shingle the train set") {
    import graft.functions.VectorKernels
    val train = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val nTrain = train.count()
    val gramsPath = java.nio.file.Files.createTempDirectory("grams")
      .resolve("g3").toString
    // snapshot build — the ONE train shingle pass
    Curation.writeTrainGrams(train, "doc_id", "text", gramsPath, n = 3)
    def sweep(mod: Int): (Long, Seq[(Long, Long)]) = {
      val evalDf = docs.filter(col("doc_id") % 2 === 1)
        .filter(col("doc_id") % 3 === mod)
        .unionByName(train.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      val nEval = evalDf.count()
      val before = VectorKernels.shingleCalls.get()
      val out = Curation.decontaminateAgainstSnapshot(evalDf, "doc_id",
          "text", gramsPath)
        .orderBy("eval_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val cost = VectorKernels.shingleCalls.get() - before
      assert(cost <= nEval * 3,
        s"sweep re-shingled $cost times for $nEval eval rows " +
          s"(train is $nTrain rows — it was rebuilt)")
      (nEval, out)
    }
    val (_, out1) = sweep(0)
    sweep(1); sweep(2)
    // snapshot path result == direct recompute result
    val evalDf = docs.filter(col("doc_id") % 2 === 1)
      .filter(col("doc_id") % 3 === 0)
      .unionByName(train.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val direct = Curation.decontaminate(evalDf, train, "doc_id", "text",
        n = 3)
      .orderBy("eval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out1 == direct, "snapshot sweep diverged from direct recompute")
    // stamp guard: a snapshot-less path refuses
    val err = intercept[IllegalStateException] {
      Curation.decontaminateAgainstSnapshot(evalDf, "doc_id", "text",
        java.nio.file.Files.createTempDirectory("nog").toString + "/none")
    }
    assert(err.getMessage.contains("writeTrainGrams"))
  }

  test("decontaminate df-cap drops boilerplate n-grams") {
    import spark.implicits._
    val boiler = "all rights reserved confidential"
    val train = (0L until 50L).map(i => (i, s"$boiler doc number $i"))
      .toDF("doc_id", "text")
    val evalDf = Seq((1000L, boiler)).toDF("doc_id", "text")
    // uncapped: the boilerplate trigrams are shared
    assert(Curation.decontaminate(evalDf, train, "doc_id", "text").count() == 1)
    // capped at df<=10: every shared trigram appears in all 50 train docs
    assert(Curation.decontaminate(evalDf, train, "doc_id", "text",
      maxTrainDf = 10).count() == 0)
  }

  test("two-pass packBins equals the single-partition window twin") {
    val twoPass = Curation.packBins(docs, "doc_id",
      tokenCount(col("text")), seqLen = 2048)
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val twin = docs
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id",
        floor(col("start_offset").cast("double") / 2048).cast("long"))
    assert(twoPass.exceptAll(twin).count() == 0 &&
      twin.exceptAll(twoPass).count() == 0,
      "distributed prefix sum must equal the sequential window")
    // the [start, start + n_tokens) intervals tile [0, total) exactly
    val tile = twoPass.agg(
      min(col("start_offset")).as("lo"),
      max(col("start_offset") + col("n_tokens")).as("hi"),
      sum(col("n_tokens")).as("total")).collect()(0)
    assert(tile.getLong(0) == 0L && tile.getLong(1) == tile.getLong(2),
      "packing intervals must tile the token stream without gaps/overlaps")
  }

  test("packBins handles duplicate and null ids (ROWS frame, null drop)") {
    import spark.implicits._
    // two rows share id=10 — the RANGE-frame default would give both the
    // same cumulative sum; the explicit ROWS frame must keep tiling exact
    val df = Seq((Some(10L), 100), (Some(10L), 200), (Some(20L), 50),
      (None: Option[Long], 999)).toDF("id", "n")
    val out = Curation.packBins(df, "id", col("n"), seqLen = 128)
    assert(out.count() == 3, "null ids must be dropped, not crash")
    val starts = out.orderBy(col("start_offset"))
      .select(col("start_offset"), col("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(starts.map(_._1).toSeq == Seq(0L, 100L, 300L) ||
      starts.map(_._1).toSeq == Seq(0L, 200L, 300L),
      s"duplicate-id rows must pack consecutively, got ${starts.toSeq}")
    assert(starts.last._1 + starts.last._2 == 350L)
  }

  test("LSH band parameters are validated") {
    val e = intercept[IllegalArgumentException] {
      Curation.dedupAgainstCorpus(docs, docs, "doc_id", "text",
        numHashes = 64, bands = 128)
    }
    assert(e.getMessage.contains("must divide"))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.minHashPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 10)
    }
    assert(e2.getMessage.contains("must divide"))
  }

  test("stratified sample: rate 1 keeps all, absent stratum drops, rerun identical") {
    val full = Tables(spark, sfDir, "documents")
    val out = Curation.stratifiedSample(full, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 1.0))
    val zhAll = full.filter(col("lang") === "zh").count()
    assert(out.filter(col("lang") === "zh").count() == zhAll)
    assert(out.filter(!col("lang").isin("en", "zh")).count() == 0)
    val en = out.filter(col("lang") === "en").count().toDouble
    val enAll = full.filter(col("lang") === "en").count().toDouble
    assert(en / enAll > 0.3 && en / enAll < 0.7,
      s"en sample rate ${en / enAll} far from 0.5")
    // determinism: same rows on rerun
    val again = Curation.stratifiedSample(full, "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 1.0))
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
  }

  test("redactPii removes every planted address and counts them") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail me at alice.smith+work@sub.example.co.uk today"),
      (2L, "call 415-555-0134 or 212-555-9876 now"),
      (3L, "both bob@ex.org and 650-555-0000 appear"),
      (4L, "no pii here at all"),
      (5L, "reach 415-555-0134@example.com")).toDF("doc_id", "text")
    val out = Curation.redactPii(df, "doc_id", "text")
      .orderBy(col("doc_id")).collect()
    assert(out(0).getInt(1) == 1 && out(0).getString(3).contains("[EMAIL]"))
    assert(out(1).getInt(2) == 2 &&
      !out(1).getString(3).matches(".*[0-9]{3}-[0-9]{3}-[0-9]{4}.*"))
    assert(out(2).getInt(1) == 1 && out(2).getInt(2) == 1)
    assert(out(3).getInt(1) == 0 && out(3).getInt(2) == 0 &&
      out(3).getString(3) == "no pii here at all")
    // a phone-shaped local part is consumed by the email match: counts must
    // agree with the redacted output (1 email, 0 phones)
    assert(out(4).getInt(1) == 1 && out(4).getInt(2) == 0 &&
      out(4).getString(3) == "reach [EMAIL]")
    // nothing matching either pattern survives redaction
    val residual = Curation.redactPii(df, "doc_id", "text")
      .filter(col("redacted").rlike(Curation.EmailPattern) ||
        col("redacted").rlike(Curation.PhonePattern)).count()
    assert(residual == 0)
  }
}
