package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.ops.{IvfIndex, PqIndex}
import graft.functions.GraftFunctions._

/** Product quantization: deterministic training/encode, the ADC exactness
  * property on codebook-aligned vectors, refine recall vs exact, and the
  * storage story — the ADC scan reads only (id, code), never the raw
  * vectors. */
class PqIndexSpec extends SparkTestBase {

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

  test("ivf-pq probe: partition prune AND narrow scan on the same read") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val codes = PqIndex.loadCodes(spark, path)
    val q = queryVec(1)
    val res = PqIndex.searchIvfPq(codes, emb, "vec_id", "embedding",
      cents, cbs, q, k = 10, nprobe = 4)
    val scans = (res.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }
    // the codes scan: pruned to the probed cells at file-listing time AND
    // reading only (id, code) — both scale levers on one read
    val codeScan = scans.find(_.relation.location.rootPaths
      .exists(_.toString.contains("ivfpq"))).get
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
    // full probe + full refine degenerates to exact search
    val n = emb.count().toInt
    val full = PqIndex.searchIvfPq(codes, emb, "vec_id", "embedding",
        cents, cbs, q, k = 10, nprobe = 16, refine = n / 10 + 1)
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
    val path = java.nio.file.Files.createTempDirectory("ivfpq")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val codes = PqIndex.loadCodes(spark, path)
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
    val path = java.nio.file.Files.createTempDirectory("ivfpq_mask")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val codes = PqIndex.loadCodes(spark, path)
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
    val path = java.nio.file.Files.createTempDirectory("ivfpq_bref")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val codes = PqIndex.loadCodes(spark, path)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def grouped(rows: Array[(Long, Long, Double)]) = rows
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy(t => (-t._2, t._1)).toSeq)
      .toMap
    // full probe, unmasked: the batch refine must equal the single-path
    // ADC→refine recipe per query — ids AND exact-cosine scores
    val batch = grouped(PqIndex.searchBatchIvfPq(codes, emb, "vec_id",
        "embedding", cents, cbs, queries, "query_id", "qv", k = 5,
        nprobe = 16, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    (0L until 4L).foreach { qid =>
      val single = PqIndex.searchIvfPq(codes, emb, "vec_id", "embedding",
          cents, cbs, queryVec(qid), k = 5, nprobe = 16, refine = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"batch refine for query $qid diverges from searchIvfPq")
    }
    // a 7-survivor mask against k = 10 can never fill: the ladder must
    // walk to the full probe, where the ADC cut passes every survivor
    // and the result is the EXACT filtered cosine ranking per query
    val mask = emb.filter(col("vec_id") < 7).select(col("vec_id").as("id"))
    val (hits, (np, rungs)) = PqIndex.searchBatchFillIvfPq(codes, emb,
      "vec_id", "embedding", cents, cbs, queries, "query_id", "qv",
      k = 10, nprobe = 1, refine = 4, allowed = Some(mask))
    assert(rungs >= 1 && np == 16,
      s"expected the ladder to reach the full probe, got ($np, $rungs)")
    val filled = grouped(hits.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    (0L until 4L).foreach { qid =>
      val exact = PqIndex.searchIvfPq(codes, emb, "vec_id", "embedding",
          cents, cbs, queryVec(qid), k = 10, nprobe = 16, refine = 4,
          allowed = Some(mask))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(filled(qid) == exact,
        s"fill ladder for query $qid diverges from the full-probe " +
          "filtered single path")
      assert(filled(qid).size == 7,
        s"fill contract: expected all 7 survivors, got ${filled(qid).size}")
    }
  }

  test("batch ADC range-splits above maxBatch with identical results") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val codes = PqIndex.loadCodes(spark, path)
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
    val path = java.nio.file.Files.createTempDirectory("ivfpq")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val (cents2, cbs2) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    assert(cents.flatten.toSeq == cents2.flatten.toSeq)
    assert(cbs.flatten.flatten.toSeq == cbs2.flatten.flatten.toSeq)
    val offDisk = PqIndex.ivfPqMetaAt(spark, path).get
    assert(offDisk._1.flatten.toSeq == cents.flatten.toSeq)
    assert(offDisk._2.flatten.flatten.toSeq == cbs.flatten.flatten.toSeq)
    // content change with identical row count → rebuild
    val before = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(path, "_ivfpq_meta"))
    val shifted = emb.withColumn("vec_id", col("vec_id") + 1)
    PqIndex.buildIfAbsentIvfPq(shifted, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val after = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(path, "_ivfpq_meta"))
    assert(after.compareTo(before) > 0,
      "content change with identical row count did not rebuild")
    // embedding-only regeneration must also rebuild ([[stampOf]] contract)
    val reEmbedded = shifted.withColumn("embedding",
      transform(col("embedding"), x => x * lit(2f)))
    PqIndex.buildIfAbsentIvfPq(reEmbedded, "vec_id", "embedding",
      nlist = 16, m = 8, ksub = 16, path)
    val after2 = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(path, "_ivfpq_meta"))
    assert(after2.compareTo(after) > 0,
      "embedding regeneration with identical ids did not rebuild")
  }

  test("ivf-pq append lands in existing cell partitions; compact rebalances") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("ivfpq_app")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, path)
    // balanced: the compact check is metadata-only and must no-op
    val fresh = dataFilesWithMtime(path)
    assert(!PqIndex.compactIvfPq(emb, "vec_id", "embedding", path,
      maxSkew = 1e9), "compact must no-op when occupancy is within bounds")
    assert(dataFilesWithMtime(path) == fresh, "a no-op compact rewrote files")

    // a drifting ingest: a tight cluster the frozen centroids funnel into
    // one hot cell (IvfIndexSpec's compaction shape on the PQ artifact)
    val v0 = queryVec(1)
    val hot = (0 until 500).map { i =>
      val v = v0.clone()
      v(i % v.length) += 0.002f * ((i % 7) + 1)
      (10000L + i, v)
    }.toDF("vec_id", "embedding")
    val (cents2, cbs2) = PqIndex.appendIvfPq(hot, "vec_id", "embedding", path)
    assert(cents2.flatten.toSeq == cents.flatten.toSeq &&
      cbs2.flatten.flatten.toSeq == cbs.flatten.flatten.toSeq,
      "append must reuse both stored quantizers")
    val after = dataFilesWithMtime(path)
    fresh.foreach { case (f, mtime) =>
      assert(after.contains(f) && after(f) == mtime,
        s"append rewrote or removed existing file $f")
    }
    assert(PqIndex.loadCodes(spark, path).count() == emb.count() + 500,
      "appended index lost rows")
    val skewBefore = IvfIndex.occupancySkew(
      IvfIndex.cellOccupancy(spark, path, 8).toSeq)
    assert(skewBefore > 4.0,
      s"hot-cluster append should skew occupancy, got $skewBefore")

    val grown = emb.select(col("vec_id"), col("embedding")).unionAll(hot)
    assert(PqIndex.compactIvfPq(grown, "vec_id", "embedding", path,
      maxSkew = 4.0), "compact must trigger above the skew threshold")
    val skewAfter = IvfIndex.occupancySkew(
      IvfIndex.cellOccupancy(spark, path, 8).toSeq)
    assert(skewAfter < skewBefore,
      s"retrain did not rebalance: $skewBefore -> $skewAfter")
    assert(PqIndex.loadCodes(spark, path).count() == grown.count(),
      "compaction lost rows")
    // compacted stamp validates: buildIfAbsentIvfPq must not rebuild
    val compacted = dataFilesWithMtime(path)
    PqIndex.buildIfAbsentIvfPq(grown, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, path)
    assert(dataFilesWithMtime(path) == compacted,
      "buildIfAbsentIvfPq rebuilt over a freshly compacted index")
    // serving still works end-to-end on the compacted index: full probe +
    // full refine degenerates to exact search
    val meta = PqIndex.ivfPqMetaAt(spark, path).get
    val exact = grown
      .withColumn("score", round4(vecCosine(col("embedding"), lit(v0))))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSet
    val viaIdx = PqIndex.searchIvfPq(PqIndex.loadCodes(spark, path), grown,
        "vec_id", "embedding", meta._1, meta._2, v0, k = 10, nprobe = 8,
        refine = grown.count().toInt / 10 + 1)
      .collect().map(_.getLong(0)).toSet
    assert(viaIdx == exact,
      "full-probe full-refine search drifted through compaction")
  }

  test("a tombstoned id is refused by both append paths until applied") {
    val vid = emb.agg(min("vec_id")).head().getLong(0)
    val reAdd = emb.filter(col("vec_id") === vid)
    // ivf-pq: applyDeletesIvfPq clears the way
    val ivfpq = java.nio.file.Files.createTempDirectory("ivfpq_reuse")
      .resolve("idx").toString
    PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, ivfpq)
    PqIndex.deleteIvfPq(reAdd, "vec_id", "embedding", ivfpq)
    val e2 = intercept[IllegalStateException] {
      PqIndex.appendIvfPq(reAdd, "vec_id", "embedding", ivfpq)
    }
    assert(e2.getMessage.contains("pending delete"), e2.getMessage)
    assert(PqIndex.applyDeletesIvfPq(spark, ivfpq))
    PqIndex.appendIvfPq(reAdd, "vec_id", "embedding", ivfpq) // now legal
    val served = PqIndex.loadCodes(spark, ivfpq).select("id")
      .collect().map(_.getLong(0))
    assert(served.count(_ == vid) == 1, "re-added id must serve exactly once")
  }

  test("ivf-pq delete + applyDeletes rewrites only affected cells") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_del")
      .resolve("idx").toString
    val (centroids, cbs) = PqIndex.buildIfAbsentIvfPq(emb, "vec_id",
      "embedding", nlist = 8, m = 8, ksub = 16, path)
    val victims = emb.filter(col("vec_id") % 11 === 0)
    val victimIds = victims.select("vec_id").collect().map(_.getLong(0)).toSet
    PqIndex.deleteIvfPq(victims, "vec_id", "embedding", path)
    // probes exclude immediately
    val served = PqIndex.loadCodes(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(victimIds).isEmpty)
    assert(served.size == emb.count() - victimIds.size)
    // physical apply: tombstones gone; with them cleared, loadCodes IS
    // the raw physical state, resolved through the cell manifest (the
    // rewritten cells live under _apply_<tag> parents a plain root read
    // would miss)
    assert(PqIndex.applyDeletesIvfPq(spark, path))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_tombstones")))
    val phys = PqIndex.loadCodes(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(phys == served, "physical apply changed the served set")
    assert(phys.intersect(victimIds).isEmpty,
      "victim rows still physically present after apply")
    // matrices still round-trip and serving still works
    val meta = PqIndex.ivfPqMetaAt(spark, path)
    assert(meta.exists { case (c, b) =>
      c.map(_.toSeq).toSeq == centroids.map(_.toSeq).toSeq &&
        b.flatten.flatten.toSeq == cbs.flatten.flatten.toSeq })
    val q = queryVec(3)
    val hits = PqIndex.searchIvfPq(PqIndex.loadCodes(spark, path), emb,
      "vec_id", "embedding", centroids, cbs, q, k = 10, nprobe = 8,
      refine = 4)
    assert(hits.collect().map(_.getLong(0)).toSet.intersect(victimIds).isEmpty)
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
    // ivf-pq: a torn journal refuses the next append until a rebuild
    val ivfpq = java.nio.file.Files.createTempDirectory("ivfpq_torn")
      .resolve("idx").toString
    PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, ivfpq)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ivfpq, "_ivfpq_journal"),
      "999:8:8:16:1.0:fp0\n")
    val e = intercept[IllegalStateException] {
      PqIndex.appendIvfPq(emb.limit(5), "vec_id", "embedding", ivfpq)
    }
    assert(e.getMessage.contains("incomplete append"))
    PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, ivfpq)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ivfpq, "_ivfpq_journal")))
    assert(PqIndex.loadCodes(spark, ivfpq).count() == emb.count())
  }

  test("append refuses a path with no artifact (both layouts)") {
    val none = java.nio.file.Files.createTempDirectory("pq_none").toString
    val e2 = intercept[IllegalStateException] {
      PqIndex.appendIvfPq(emb, "vec_id", "embedding", s"$none/ivfpq")
    }
    assert(e2.getMessage.contains("buildIfAbsentIvfPq"))
    val e3 = intercept[IllegalStateException] {
      PqIndex.compactIvfPq(emb, "vec_id", "embedding", s"$none/ivfpq")
    }
    assert(e3.getMessage.contains("buildIfAbsentIvfPq"))
  }

  test("adversarial ivf-pq apply churn: probes never silently lose a cell") {
    // The IVF churn spec's twin on the COMPOSED artifact: each cycle
    // deletes 5 rows, applies tombstones physically (cells rewritten out
    // of base into _apply parents), then appends the same rows back —
    // recreating root `cell_id=` dirs, the stale-manifest trap
    // IvfIndex.stableRead's generation re-check closes (the IVF-PQ meta
    // mints its gen through renderIvfPqMeta; this pins the wiring for
    // the second meta file). Every successful loadCodes().count() must
    // sit inside [n-5, n]; a silently lost cell would read ~60 short.
    val corpus = emb.cache()
    val n = corpus.count()
    val path = java.nio.file.Files.createTempDirectory("ivfpq_churn")
      .resolve("idx").toString
    PqIndex.buildIfAbsentIvfPq(corpus, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, path)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probeErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probeOk = new java.util.concurrent.atomic.AtomicLong(0)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          val c = PqIndex.loadCodes(spark, path).count()
          if (c < n - 5 || c > n)
            probeErrors.add(s"probe saw count $c outside [${n - 5}, $n] " +
              "— a cell went silently missing")
          probeOk.incrementAndGet()
        } catch {
          case e: Throwable =>
            val s = e.toString + Option(e.getCause).fold("")(_.toString)
            // "NoSuchFile": the java.nio shape of the same mid-scan
            // delete on a Linux local FS (FAILED_READ_FILE wrapping a
            // vanished parquet or .crc in a superseded dir)
            if (!s.contains("FileNotFound") && !s.contains("NoSuchFile") &&
                !s.contains("does not exist") &&
                !s.contains("FILE_NOT_EXIST") && !s.contains("PATH_NOT_FOUND") &&
                !s.contains("basePath") && !s.contains("Invalid directory") &&
                !s.contains("manifest generation"))
              probeErrors.add(s"unexpected probe failure: $s")
        }
      }
    })
    val allIds = corpus.select("vec_id").collect().map(_.getLong(0)).sorted
    prober.start()
    try {
      for (i <- 0 until 8) {
        val victims = allIds.slice(i * 5, i * 5 + 5).toSeq
        val batch = corpus.filter(col("vec_id").isin(victims: _*))
        PqIndex.deleteIvfPq(batch, "vec_id", "embedding", path)
        assert(PqIndex.applyDeletesIvfPq(spark, path))
        PqIndex.appendIvfPq(batch, "vec_id", "embedding", path)
      }
      val tailDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (probeOk.get() <= 10 && System.nanoTime() < tailDeadline)
        Thread.sleep(100)
    } finally {
      stop.set(true)
      prober.join()
    }
    assert(probeErrors.isEmpty, probeErrors.toArray.mkString("\n"))
    assert(probeOk.get() > 10, s"only ${probeOk.get()} probes completed")
    val finalIds = PqIndex.loadCodes(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(finalIds == allIds.toSet, "post-churn contents diverged")
    corpus.unpersist()
    ()
  }

  test("every ivf-pq meta write bumps the manifest generation nonce") {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_gen")
      .resolve("idx").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def gen() = graft.ops.IvfIndex
      .readHeaderManifest(conf, path, "_ivfpq_meta").gen
    PqIndex.buildIfAbsentIvfPq(emb, "vec_id", "embedding",
      nlist = 8, m = 8, ksub = 16, path)
    val g0 = gen()
    assert(g0.nonEmpty, "build wrote no generation nonce")
    val batch = emb.filter(col("vec_id") < 5)
    PqIndex.deleteIvfPq(batch, "vec_id", "embedding", path)
    PqIndex.applyDeletesIvfPq(spark, path)
    val g2 = gen()
    PqIndex.appendIvfPq(batch, "vec_id", "embedding", path)
    val g3 = gen()
    // delete passes raw meta lines through (no dir mutation — gen may
    // hold); every dir-mutating op (build/apply/append) must bump
    val gens = Seq(g0, g2, g3)
    assert(gens.distinct.size == gens.size,
      s"dir-mutating meta writes reused a generation nonce: $gens")
  }

  private def dataFilesWithMtime(path: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => p.toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally s.close()
  }

  private def codeFiles(path: String): Set[String] = {
    val d = new java.io.File(path)
    d.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
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
    val path = java.nio.file.Files.createTempDirectory("ivfpq_floor")
      .resolve("idx").toString
    val (cents, cbs) = PqIndex.buildIfAbsentIvfPq(tiny, "id", "embedding",
      nlist = 2, m = 2, ksub = 2, path)
    val codes = PqIndex.loadCodes(spark, path)
    val q = Array(1f, 0f)
    val unfloored = PqIndex.searchIvfPq(codes, tiny, "id", "embedding",
        cents, cbs, q, k = 10, nprobe = 2, refine = 4)
      .collect().map(_.getLong(0)).toSet
    assert(unfloored == Set(1L, 2L, 3L))
    val floored = PqIndex.searchIvfPq(codes, tiny, "id", "embedding",
        cents, cbs, q, k = 10, nprobe = 2, refine = 4,
        rawFloor = Some(-0.9))
      .collect().map(_.getLong(0)).toSet
    assert(floored == Set(2L, 3L),
      "raw −0.90004 rounds to −0.9000 but must not pass the raw floor")
    // batch twin, floor before the per-query top-k: the sub-floor row
    // must not occupy a k=2 slot
    val batchQ = Seq((9L, q.toSeq)).toDF("query_id", "qv")
    val batch = PqIndex.searchBatchIvfPq(codes, tiny, "id", "embedding",
        cents, cbs, batchQ, "query_id", "qv", k = 2, nprobe = 2,
        refine = 4, rawFloor = Some(-0.9))
      .collect().map(_.getLong(1)).toSet
    assert(batch == Set(2L, 3L), s"sub-floor row wasted a top-k slot: $batch")
  }
}
