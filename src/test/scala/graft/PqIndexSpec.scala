package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.ops.{IvfIndex, PqIndex}
import graft.functions.GraftFunctions._

/** Product quantization: deterministic training/encode, the ADC exactness
  * property on codebook-aligned vectors, refine recall vs exact, and the
  * storage story — the ADC scan reads only (id, code), never the raw
  * vectors. The IVF artifact's lifecycle checks run here on the layout
  * with codes ([[IvfLifecycleChecks]]). */
class PqIndexSpec extends SparkTestBase with IvfLifecycleChecks {

  /** The IVF-PQ layout the lifecycle checks run on. */
  private val codes = Some((8, 16))

  private def emb = Tables(spark, sfDir, "embeddings")

  private def queryVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id)
      .select("embedding").collect()(0).getSeq[Float](0).toArray

  test("training and encode are deterministic across reruns and layouts") {
    val cb1 = PqIndex.trainCodebooks(emb, "embedding", m = 8, ksub = 16)
    val cb2 = PqIndex.trainCodebooks(emb.repartition(7), "embedding", m = 8, ksub = 16)
    assert(cb1.length == 8 && cb1.forall(_.length == 16))
    assert(cb1.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq,
      "codebooks differ across partition layouts")
    val c1 = PqIndex.encode(emb, "vec_id", "embedding", cb1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
    val c2 = PqIndex.encode(emb.repartition(5), "vec_id", "embedding", cb1)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
    assert(c1.toSeq == c2.toSeq, "codes differ across partition layouts")
  }

  test("ADC is exact when every subvector IS a codebook centroid") {
    import spark.implicits._
    // corpus rows assembled from codebook centroids: quantization error is
    // exactly zero, so ADC == the true inner product (same double-sum
    // order), and encode must pick the assembling codes back out
    val cbs = PqIndex.trainCodebooks(emb, "embedding", m = 8, ksub = 16)
    val rows = (0 until 16).map { c =>
      (c.toLong, cbs.flatMap(_.apply(c)).toSeq)
    }
    val aligned = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val codes = PqIndex.encode(aligned, "vec_id", "embedding", cbs)
    codes.collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getAs[Array[Byte]](1).toSeq == Seq.fill(8)(id.toByte),
        s"encode of centroid-aligned vector $id drifted")
    }
    val q = queryVec(3)
    val lut = PqIndex.adcLut(cbs, q)
    val adc = codes.withColumn("s", pqAdcScore(col("code"), lut))
      .orderBy("id").select("s").collect().map(_.getDouble(0))
    val exact = aligned.orderBy("vec_id")
      .select(vecDot(col("embedding"), lit(q))).collect().map(_.getDouble(0))
    adc.zip(exact).zipWithIndex.foreach { case ((a, e), i) =>
      assert(math.abs(a - e) < 1e-9, s"row $i: adc $a != exact $e")
    }
  }

  test("pqAdcDot is bit-identical to the LUT path (batch == flat serving)") {
    // the batch kernel (code vs query column) must reproduce the flat
    // path's doubles EXACTLY — same per-subspace grouping — or floor-form
    // rounding can disagree at a boundary and break the oracle replay
    val cbs = PqIndex.trainCodebooks(emb, "embedding", m = 8, ksub = 16)
    val codes = PqIndex.encode(emb, "vec_id", "embedding", cbs)
    (0 until 5).foreach { qi =>
      val q = queryVec(qi)
      val viaLut = codes
        .withColumn("s", pqAdcScore(col("code"), PqIndex.adcLut(cbs, q)))
        .orderBy("id").select("s").collect().map(_.getDouble(0))
      val viaDot = codes
        .withColumn("s", pqAdcDot(col("code"),
          lit(q).cast("array<float>"), cbs))
        .orderBy("id").select("s").collect().map(_.getDouble(0))
      viaLut.zip(viaDot).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"query $qi row $i: lut $a != dot $b (not bitwise)")
      }
    }
  }

  test("encode tie goes to the smaller code (nearestCentroid contract)") {
    import spark.implicits._
    // a 2-subspace codebook with code 0 and 1 identical in subspace 0:
    // any vector ties them, and must encode to 0
    val cbs: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 1f), Array(1f, 1f), Array(0f, 0f)),
      Array(Array(0f, 0f), Array(2f, 2f), Array(3f, 3f)))
    val df = Seq((1L, Seq(1f, 1f, 2f, 2f))).toDF("vec_id", "embedding")
    val code = PqIndex.encode(df, "vec_id", "embedding", cbs)
      .collect()(0).getAs[Array[Byte]](1)
    assert(code(0) == 0, s"tie broke to code ${code(0)}, not 0")
    assert(code(1) == 1)
  }

  test("refine recall@10 >= 0.8 and full-refine == exact") {
    val cbs = PqIndex.trainCodebooks(emb, "embedding", m = 8, ksub = 16)
    val codes = PqIndex.encode(emb, "vec_id", "embedding", cbs)
    val q = queryVec(1)
    val r8 = PqIndex.recallAtK(emb, "vec_id", "embedding", codes, cbs,
      q, k = 10, refine = 8)
    assert(r8 >= 0.8, s"recall@10 with refine=8: $r8")
    // refining over the whole corpus degenerates to exact search
    val n = emb.count().toInt
    val rAll = PqIndex.recallAtK(emb, "vec_id", "embedding", codes, cbs,
      q, k = 10, refine = n / 10 + 1)
    assert(rAll == 1.0, s"recall@10 with full refine: $rAll")
  }

  test("persisted codes artifact: stamped build-once, content change rebuilds") {
    val path = java.nio.file.Files.createTempDirectory("pq")
      .resolve("codes").toString
    val cbs = PqIndex.buildIfAbsent(emb, "vec_id", "embedding",
      m = 8, ksub = 16, path)
    val files1 = codeFiles(path)
    assert(files1.nonEmpty)
    // same corpus → stamp matches → no rewrite, identical codebooks back
    val cbs2 = PqIndex.buildIfAbsent(emb, "vec_id", "embedding",
      m = 8, ksub = 16, path)
    assert(codeFiles(path) == files1, "valid artifact was rewritten")
    assert(cbs.flatten.flatten.toSeq == cbs2.flatten.flatten.toSeq)
    // same row count, different content → fingerprint mismatch → rebuild
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1)
    PqIndex.buildIfAbsent(shifted, "vec_id", "embedding",
      m = 8, ksub = 16, path)
    assert(codeFiles(path) != files1,
      "content change with identical row count did not rebuild")
    // EMBEDDING-only regeneration (ids and count unchanged) must also
    // rebuild: the codes are a function of the vectors, so the stamp
    // fingerprints (id, embedding), not just the keys
    val filesShifted = codeFiles(path)
    val reEmbedded = shifted.withColumn("embedding",
      transform(col("embedding"), x => x * lit(2f)))
    PqIndex.buildIfAbsent(reEmbedded, "vec_id", "embedding",
      m = 8, ksub = 16, path)
    assert(codeFiles(path) != filesShifted,
      "embedding regeneration with identical ids did not rebuild")
    // loadCodes round-trips the encode
    PqIndex.buildIfAbsent(emb, "vec_id", "embedding", m = 8, ksub = 16, path)
    val stored = PqIndex.loadCodes(spark, path).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq
    val fresh = PqIndex.encode(emb, "vec_id", "embedding", cbs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq
    assert(stored == fresh)
    // and the on-disk codebooks match the returned ones (oracle path)
    val offDisk = PqIndex.codebooksAt(spark, path).get
    assert(offDisk.flatten.flatten.toSeq == cbs.flatten.flatten.toSeq)
  }

  test("ADC scan over the codes artifact never reads the raw vectors") {
    val path = java.nio.file.Files.createTempDirectory("pq")
      .resolve("codes").toString
    val cbs = PqIndex.buildIfAbsent(emb, "vec_id", "embedding",
      m = 8, ksub = 16, path)
    val res = PqIndex.searchAdc(PqIndex.loadCodes(spark, path), cbs,
      queryVec(1), k = 10)
    val scans = (res.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val read = s.requiredSchema.fieldNames.toSet
      assert(read.subsetOf(Set("id", "code")),
        s"ADC scan reads beyond (id, code): $read")
    }
    assert(res.count() == 10)
  }

  /** Build (or reuse) an IVF artifact with m = 8 / ksub = 16 codes at
    * `path`; returns its (centroids, codebooks). */
  private def ivfPq(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      nlist: Int, path: String, m: Int = 8, ksub: Int = 16)
      : (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val cents = IvfIndex.buildIfAbsent(corpus, idCol, "embedding", nlist,
      path, pq = Some((m, ksub)))
    (cents, IvfIndex.metaAt(spark, path).flatMap(_.codebooks).get)
  }

  private def tmpPath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("idx").toString

  test("ivf-pq probe: partition prune AND narrow scan on the same read") {
    val path = tmpPath("ivfpq")
    val (cents, cbs) = ivfPq(emb, "vec_id", nlist = 16, path)
    val idx = IvfIndex.load(spark, path)
    val q = queryVec(1)
    val res = PqIndex.searchIvfPq(idx, cents, cbs, q, k = 10, nprobe = 4)
    val scans = (res.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }
    // the ADC scan: pruned to the probed cells at file-listing time AND
    // reading only (id, code) — both scale levers on one read
    val codeScan = scans.find(_.requiredSchema.fieldNames.contains("code")).get
    assert(codeScan.partitionFilters.exists(
      _.references.exists(_.name == "cell_id")),
      s"cell filter not a partition filter: ${codeScan.partitionFilters}")
    val pruned = codeScan.relation.location
      .listFiles(codeScan.partitionFilters, codeScan.dataFilters)
    val total = codeScan.relation.location.listFiles(Nil, Nil)
    assert(pruned.length <= 4 && total.length > pruned.length,
      s"no partition pruning: ${pruned.length} of ${total.length}")
    assert(codeScan.requiredSchema.fieldNames.toSet.subsetOf(Set("id", "code")),
      s"codes scan reads beyond (id, code): ${codeScan.requiredSchema.fieldNames.toSeq}")
    // the refine scan reads the raw vectors of the same probed cells only
    val refineScan = scans.find(_.requiredSchema.fieldNames
      .contains("embedding")).get
    assert(refineScan.requiredSchema.fieldNames.toSet
      .subsetOf(Set("id", "embedding")),
      s"refine scan reads beyond (id, embedding): " +
        refineScan.requiredSchema.fieldNames.toSeq)
    assert(refineScan.relation.location.listFiles(
      refineScan.partitionFilters, refineScan.dataFilters).length <= 4,
      "the refine scan is not pruned to the probed cells")
    // full probe + full refine degenerates to exact search
    val n = emb.count().toInt
    val full = PqIndex.searchIvfPq(idx, cents, cbs, q, k = 10, nprobe = 16,
        refine = n / 10 + 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = emb
      .withColumn("score", round4(vecCosine(col("embedding"), lit(q))))
      .orderBy(desc("score"), col("vec_id")).limit(10)
      .select(col("vec_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact, "full-probe full-refine IVF-PQ != exact search")
  }

  test("decode reconstructs centroid-aligned vectors exactly") {
    import spark.implicits._
    val cbs = PqIndex.trainCodebooks(emb, "embedding", m = 8, ksub = 16)
    val rows = (0 until 16).map(c => (c.toLong, cbs.flatMap(_.apply(c)).toSeq))
    val aligned = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val back = PqIndex.encode(aligned, "vec_id", "embedding", cbs)
      .withColumn("recon", pqDecode(col("code"), cbs))
      .orderBy("id").select("recon")
      .collect().map(_.getSeq[Float](0).toSeq)
    rows.zip(back).foreach { case ((id, orig), recon) =>
      assert(orig == recon, s"decode of centroid-aligned vector $id drifted")
    }
  }


  test("batch ADC at full probe matches flat per-query ADC ranking") {
    val path = tmpPath("ivfpq")
    val (cents, cbs) = ivfPq(emb, "vec_id", nlist = 16, path)
    val codes = IvfIndex.load(spark, path)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = PqIndex.searchBatchAdc(codes, cents, cbs, queries,
        "query_id", "qv", k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq).toMap
    (0L until 4L).foreach { qid =>
      val q = queryVec(qid)
      // flat ADC over the same codes (codebooks identical by determinism)
      val flat = PqIndex.searchAdc(codes.select("id", "code"), cbs, q, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == flat,
        s"batch ADC for query $qid diverges from flat ADC")
    }
  }

  test("batch ADC with a candidate mask: survivors only, equals masked flat") {
    val path = tmpPath("ivfpq_mask")
    val (cents, cbs) = ivfPq(emb, "vec_id", nlist = 16, path)
    val codes = IvfIndex.load(spark, path)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val mask = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"))
    val batch = PqIndex.searchBatchAdc(codes, cents, cbs, queries,
        "query_id", "qv", k = 5, nprobe = 16, allowed = Some(mask))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    batch.foreach { case (_, id, _) =>
      assert(id % 2 == 0, s"mask leaked id $id") }
    val grouped = batch.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq)
      .toMap
    (0L until 4L).foreach { qid =>
      val q = queryVec(qid)
      // flat ADC over the pre-filtered codes: identical arithmetic, so
      // the masked batch must reproduce it exactly at full probe
      val flat = PqIndex.searchAdc(
          codes.filter(col("id") % 2 === 0).select("id", "code"), cbs, q,
          k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(grouped(qid) == flat,
        s"masked batch ADC for query $qid diverges from masked flat ADC")
    }
  }

  test("batch refine (searchBatchIvfPq) equals per-query searchIvfPq; " +
      "the fill ladder widens a starving mask to the exact filtered " +
      "ranking") {
    val path = tmpPath("ivfpq_bref")
    val (cents, cbs) = ivfPq(emb, "vec_id", nlist = 16, path)
    val idx = IvfIndex.load(spark, path)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def grouped(rows: Array[(Long, Long, Double)]) = rows
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq)
      .toMap
    // full probe, unmasked: the batch refine must equal the single-path
    // ADC→refine recipe per query — ids AND exact-cosine scores
    val batch = grouped(PqIndex.searchBatchIvfPq(idx, cents, cbs, queries,
        "query_id", "qv", k = 5, nprobe = 16, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    (0L until 4L).foreach { qid =>
      val single = PqIndex.searchIvfPq(idx, cents, cbs, queryVec(qid),
          k = 5, nprobe = 16, refine = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"batch refine for query $qid diverges from searchIvfPq")
    }
    // a 7-survivor mask against k = 10 can never fill: the ladder must
    // walk to the full probe, where the ADC cut passes every survivor
    // and the result is the EXACT filtered cosine ranking per query
    val mask = emb.filter(col("vec_id") < 7).select(col("vec_id").as("id"))
    val (hits, (np, rungs)) = PqIndex.searchBatchFillIvfPq(idx, cents, cbs,
      queries, "query_id", "qv", k = 10, nprobe = 1, refine = 4,
      allowed = Some(mask))
    assert(rungs >= 1 && np == 16,
      s"expected the ladder to reach the full probe, got ($np, $rungs)")
    val filled = grouped(hits.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    (0L until 4L).foreach { qid =>
      val exact = PqIndex.searchIvfPq(idx, cents, cbs, queryVec(qid),
          k = 10, nprobe = 16, refine = 4, allowed = Some(mask))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(filled(qid) == exact,
        s"fill ladder for query $qid diverges from the full-probe " +
          "filtered single path")
      assert(filled(qid).size == 7,
        s"fill contract: expected all 7 survivors, got ${filled(qid).size}")
    }
  }

  test("batch ADC range-splits above maxBatch with identical results") {
    val path = tmpPath("ivfpq")
    val (cents, cbs) = ivfPq(emb, "vec_id", nlist = 16, path)
    val codes = IvfIndex.load(spark, path)
    val queries = emb.filter(col("vec_id") < 6)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def run(maxBatch: Int) =
      PqIndex.searchBatchAdc(codes, cents, cbs, queries, "query_id", "qv",
          k = 3, nprobe = 4, maxBatch = maxBatch)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    assert(run(2) == run(100), "split batch ADC diverges from unsplit")
  }

  test("ivf-pq artifact: stamp round-trips both matrices, content change rebuilds") {
    val path = tmpPath("ivfpq")
    val (cents, cbs) = ivfPq(emb, "vec_id", nlist = 16, path)
    val (cents2, cbs2) = ivfPq(emb, "vec_id", nlist = 16, path)
    assert(cents.flatten.toSeq == cents2.flatten.toSeq)
    assert(cbs.flatten.flatten.toSeq == cbs2.flatten.flatten.toSeq)
    // the matrices are the two trainers' own outputs over the corpus
    assert(cents.map(_.toSeq).toSeq == IvfIndex.trainCentroids(emb,
      "embedding", nlist = 16).map(_.toSeq).toSeq)
    assert(cbs.flatten.flatten.toSeq == PqIndex.trainCodebooks(emb,
      "embedding", m = 8, ksub = 16).flatten.flatten.toSeq)
    val metaFile = java.nio.file.Paths.get(path, IvfIndex.MetaName)
    val offDisk = IvfIndex.parseMetaLines(scala.jdk.CollectionConverters
      .ListHasAsScala(java.nio.file.Files.readAllLines(metaFile)).asScala
      .toSeq).get
    assert(offDisk.stamp.split(":").slice(4, 6).toSeq == Seq("8", "16"),
      s"stamp does not record m:ksub: ${offDisk.stamp}")
    assert(offDisk.centroids.flatten.toSeq == cents.flatten.toSeq)
    assert(offDisk.codebooks.get.flatten.flatten.toSeq ==
      cbs.flatten.flatten.toSeq)
    // every row carries its cell and its code
    val rows = IvfIndex.load(spark, path)
      .withColumn("want_cell", nearestCentroid(col("embedding"), cents))
      .withColumn("want_code", pqEncode(col("embedding"), cbs))
    assert(rows.filter(col("cell_id") =!= col("want_cell") ||
      !(col("code") === col("want_code"))).count() == 0)
    // a plain IVF stamp over the same corpus is a different config
    assert(IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 16, path)
      .flatten.toSeq == cents.flatten.toSeq)
    assert(IvfIndex.metaAt(spark, path).get.codebooks.isEmpty,
      "a build without codes kept the codebook block")
    ivfPq(emb, "vec_id", nlist = 16, path)
    // content change with identical row count → rebuild
    val before = java.nio.file.Files.getLastModifiedTime(metaFile)
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1)
    ivfPq(shifted, "vec_id", nlist = 16, path)
    val after = java.nio.file.Files.getLastModifiedTime(metaFile)
    assert(after.compareTo(before) > 0,
      "content change with identical row count did not rebuild")
    // embedding-only regeneration must also rebuild (the codes are a
    // function of the vectors, so the stamp fingerprints them)
    val reEmbedded = shifted.withColumn("embedding",
      transform(col("embedding"), x => x * lit(2f)))
    ivfPq(reEmbedded, "vec_id", nlist = 16, path)
    val after2 = java.nio.file.Files.getLastModifiedTime(metaFile)
    assert(after2.compareTo(after) > 0,
      "embedding regeneration with identical ids did not rebuild")
  }

  test("ivf-pq append lands in existing cell partitions; compact rebalances") {
    checkAppend(codes)
    checkCompact(codes)
  }

  test("a tombstoned id is refused by both append paths until applied") {
    // one append path now writes both halves of the artifact (cells and
    // codes); this is its check on the layout with codes
    checkTombstoneRefusal(codes)
  }

  test("ivf-pq delete + applyDeletes rewrites only affected cells") {
    checkDeleteApply(codes)
  }

  test("a torn append journal blocks maintenance and forces a rebuild") {
    val path = java.nio.file.Files.createTempDirectory("pq_torn")
      .resolve("codes").toString
    PqIndex.buildIfAbsent(emb, "vec_id", "embedding", m = 8, ksub = 16, path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_pq_journal"), "999:8:16:1.0:fp0\n")
    // freshness sees the torn artifact as stale → rebuild clears it
    PqIndex.buildIfAbsent(emb, "vec_id", "embedding", m = 8, ksub = 16, path)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_pq_journal")))
    assert(PqIndex.loadCodes(spark, path).count() == emb.count())
  }

  test("append refuses a path with no artifact (both layouts)") {
    // both IVF layouts — plain and with codes — refuse an append or a
    // compaction where no artifact was built
    val none = java.nio.file.Files.createTempDirectory("pq_none").toString
    val e2 = intercept[IllegalStateException] {
      IvfIndex.append(emb, "vec_id", "embedding", s"$none/ivfpq")
    }
    assert(e2.getMessage.contains("buildIfAbsent"))
    val e3 = intercept[IllegalStateException] {
      IvfIndex.compact(emb, "vec_id", "embedding", s"$none/ivfpq")
    }
    assert(e3.getMessage.contains("buildIfAbsent"))
  }

  test("adversarial ivf-pq apply churn: probes never silently lose a cell") {
    checkApplyChurn(codes)
  }

  test("every ivf-pq meta write bumps the manifest generation nonce") {
    checkGenNonce(codes)
  }

  test("rawFloor cuts on the refine stage's RAW cosine — the IVF family's " +
      "boundary semantics on the compressed path") {
    import spark.implicits._
    // same boundary construction as IvfIndexSpec's raw-floor pin: id 1's
    // raw cosine −0.90004 rounds to −0.9000 (passes a post-round floor)
    // but must fall to the raw cut; refine=4 keeps every candidate past
    // the ADC stage, so membership is exact regardless of quantization
    def v(x: Double) =
      Seq(x.toFloat, math.sqrt(math.max(0.0, 1 - x * x)).toFloat)
    val tiny = Seq((1L, v(-0.90004)), (2L, v(-0.89996)), (3L, v(0.5)))
      .toDF("id", "embedding")
    val path = tmpPath("ivfpq_floor")
    val (cents, cbs) = ivfPq(tiny, "id", nlist = 2, path, m = 2, ksub = 2)
    val idx = IvfIndex.load(spark, path)
    val q = Array(1f, 0f)
    val unfloored = PqIndex.searchIvfPq(idx, cents, cbs, q, k = 10,
        nprobe = 2, refine = 4)
      .collect().map(_.getLong(0)).toSet
    assert(unfloored == Set(1L, 2L, 3L))
    val floored = PqIndex.searchIvfPq(idx, cents, cbs, q, k = 10,
        nprobe = 2, refine = 4, rawFloor = Some(-0.9))
      .collect().map(_.getLong(0)).toSet
    assert(floored == Set(2L, 3L),
      "raw −0.90004 rounds to −0.9000 but must not pass the raw floor")
    // batch twin, floor before the per-query top-k: the sub-floor row
    // must not occupy a k=2 slot
    val batchQ = Seq((9L, q.toSeq)).toDF("query_id", "qv")
    val batch = PqIndex.searchBatchIvfPq(idx, cents, cbs, batchQ,
        "query_id", "qv", k = 2, nprobe = 2, refine = 4,
        rawFloor = Some(-0.9))
      .collect().map(_.getLong(1)).toSet
    assert(batch == Set(2L, 3L), s"sub-floor row wasted a top-k slot: $batch")
  }

  private def codeFiles(path: String): Set[String] = {
    val d = new java.io.File(path)
    d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
  }
}
