package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.ops.IvfIndex

/** IVF ANN quality: deterministic build, acceptable recall vs exact, and
  * the storage story — a persisted `partitionBy(cell_id)` index whose probe
  * prunes at the partition level. The lifecycle specs (append, delete,
  * apply, compact, churn, generation nonce) run here on the plain layout
  * and in PqIndexSpec with codes ([[IvfLifecycleChecks]]); the torn-journal
  * spec runs both layouts. */
class IvfIndexSpec extends SparkTestBase with IvfLifecycleChecks {

  /** The two artifact layouts: plain IVF, and IVF with m = 8 / ksub = 16
    * PQ codes. */
  private val layouts: Seq[Option[(Int, Int)]] = Seq(None, Some((8, 16)))

  test("ivf search recall@10 >= 0.5 with nprobe=4/16 cells") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    assert(centroids.length == 16)
    val query = emb.filter(col("vec_id") === 1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val recall = IvfIndex.recallAtK(emb, "vec_id", "embedding",
      centroids, query, k = 10, nprobe = 4)
    assert(recall >= 0.5, s"recall@10 = $recall")
    // full probe == exact
    val full = IvfIndex.recallAtK(emb, "vec_id", "embedding",
      centroids, query, k = 10, nprobe = 16)
    assert(full == 1.0, s"recall@10 with all cells probed = $full")
  }

  test("persisted index probe is a storage-level partition prune") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    val path = java.nio.file.Files.createTempDirectory("ivf")
      .resolve("idx").toString
    IvfIndex.persist(IvfIndex.build(emb, "vec_id", "embedding", centroids), path)
    val idx = IvfIndex.load(spark, path)
    val query = emb.filter(col("vec_id") === 1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val res = IvfIndex.search(idx, centroids, query, k = 10, nprobe = 4)
    val scan = (res.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
      s"cell filter did not become a partition filter: ${scan.partitionFilters}")
    val pruned = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
    val total = scan.relation.location.listFiles(Nil, Nil)
    assert(pruned.length <= 4, s"probe read ${pruned.length} partitions")
    assert(total.length > pruned.length,
      s"no pruning: ${pruned.length} of ${total.length} partitions")
    // and the pruned scan still returns the right ANN results
    val viaMem = IvfIndex.search(
      IvfIndex.build(emb, "vec_id", "embedding", centroids),
      centroids, query, k = 10, nprobe = 4).collect().map(_.getLong(0)).toSeq
    assert(res.collect().map(_.getLong(0)).toSeq == viaMem)
  }

  test("searchDf keeps the query in the plan and matches search()") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", centroids)
    val query = emb.filter(col("vec_id") === 1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val viaDriver = IvfIndex.search(idx, centroids, query, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val queryDf = emb.filter(col("vec_id") === 1).select("embedding")
    val viaPlan = IvfIndex.searchDf(idx, centroids, queryDf, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(viaPlan == viaDriver)
  }

  test("cell assignment is codegen (no ScalaUDF) and matches a driver loop") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 8)
    val built = IvfIndex.build(emb, "vec_id", "embedding", centroids)
    built.queryExecution.optimizedPlan.foreach(_.expressions.foreach(e =>
      e.foreach { x =>
        assert(!x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF],
          "build plan contains a ScalaUDF")
      }))
    val sample = built.limit(50).collect()
    sample.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      var best = 0; var bestD = Double.MaxValue
      for (c <- centroids.indices) {
        var d = 0.0
        for (i <- centroids(c).indices) {
          val t = v(i) - centroids(c)(i); d += t * t
        }
        if (d < bestD) { bestD = d; best = c }
      }
      assert(r.getInt(2) == best, s"assignment drift for id ${r.getLong(0)}")
    }
  }

  test("buildIfAbsent reuses a valid persisted index, rebuilds on stamp change") {
    val emb = Tables(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf_ba")
      .resolve("idx").toString
    val c1 = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path)
    // second call must round-trip the identical centroids from disk
    val c2 = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
    // stamp mismatch (different nlist) forces a rebuild
    val c3 = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 4, path)
    assert(c3.length == 4)
    assert(IvfIndex.load(spark, path)
      .select("cell_id").distinct().count() <= 4)
  }

  test("searchBatch: recall floor vs brute force, exact at full probe") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", centroids)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, hits) => q -> hits.map(_._2).toSet }
    val exact = sets(graft.ops.Similarity.bruteForceTopKBatch(
      emb, "vec_id", queries, "query_id", 10,
      graft.functions.GraftFunctions.vecCosine(_, _)))
    val approx = sets(IvfIndex.searchBatch(idx, centroids, queries,
      "query_id", "qv", k = 10, nprobe = 4))
    assert(approx.keySet == exact.keySet, "a query lost its result group")
    val recalls = exact.map { case (q, ids) =>
      approx(q).intersect(ids).size.toDouble / ids.size }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.5, s"avg recall@10 = $avg (per-query: $recalls)")
    // probing every cell = exact brute force, per query
    val full = sets(IvfIndex.searchBatch(idx, centroids, queries,
      "query_id", "qv", k = 10, nprobe = 16))
    assert(full == exact, "nprobe=nlist must equal exact top-k")
  }

  test("searchBatch with a candidate mask: survivors only, exact filtered " +
      "top-k at full probe") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", centroids)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // the mask: even vector ids only
    val mask = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, hits) => q -> hits.map(_._2).toSet }
    val masked = sets(IvfIndex.searchBatch(idx, centroids, queries,
      "query_id", "qv", k = 10, nprobe = 4, allowed = Some(mask)))
    // every hit satisfies the mask
    masked.values.flatten.foreach(id =>
      assert(id % 2 == 0, s"mask leaked id $id"))
    // full probe = exact brute-force top-k over the masked corpus
    val exact = sets(graft.ops.Similarity.bruteForceTopKBatch(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", queries,
      "query_id", 10, graft.functions.GraftFunctions.vecCosine(_, _)))
    val full = sets(IvfIndex.searchBatch(idx, centroids, queries,
      "query_id", "qv", k = 10, nprobe = 16, allowed = Some(mask)))
    assert(full == exact,
      "masked full-probe batch must equal filtered brute force")
  }

  test("the candidate mask does not defeat the cell_id partition prune") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    val path = java.nio.file.Files.createTempDirectory("ivf_mask")
      .resolve("idx").toString
    IvfIndex.persist(
      IvfIndex.build(emb, "vec_id", "embedding", centroids), path)
    val idx = IvfIndex.load(spark, path)
    val query = emb.filter(col("vec_id") === 1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val mask = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"))
    val res = IvfIndex.search(idx, centroids, query, k = 10, nprobe = 4,
      allowed = Some(mask))
    // the semi-join must ride ABOVE the pruned scan: the probed-cell
    // filter still reaches the index scan as a PARTITION filter, so a
    // filtered ANN query reads the same ≤ nprobe partition dirs the
    // unfiltered one does — the mask narrows rows, never widens I/O
    val scan = (res.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }
      .find(_.output.exists(_.name == "embedding")).get
    assert(scan.partitionFilters.exists(
        _.references.exists(_.name == "cell_id")),
      s"mask join lost the partition filter: ${scan.partitionFilters}")
    val pruned = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
    assert(pruned.length <= 4,
      s"masked probe read ${pruned.length} partitions")
    // and the result equals filtering the unmasked ranking's source
    val expect = IvfIndex.search(
        IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), "vec_id",
          "embedding", centroids), centroids, query, k = 10, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(res.collect().map(_.getLong(0)).toSeq == expect)
  }

  test("searchBatch job count does not grow with the query batch") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", centroids)
    def jobsFor(nQueries: Int): Int = {
      val queries = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val group = s"ivf-batch-$nQueries"
      spark.sparkContext.setJobGroup(group, group)
      try IvfIndex.searchBatch(idx, centroids, queries, "query_id", "qv",
        k = 5, nprobe = 4).count()
      finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val j2 = jobsFor(2)
    val j10 = jobsFor(10)
    assert(j10 <= j2 + 1,
      s"job count grew with the batch: $j2 jobs for 2 queries, $j10 for 10")
    // and the plan never falls back to a cartesian against the corpus
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val plan = IvfIndex.searchBatch(idx, centroids, queries, "query_id",
      "qv", k = 5, nprobe = 4).queryExecution.executedPlan
    plan.foreach { n =>
      assert(!n.isInstanceOf[
        org.apache.spark.sql.execution.joins.CartesianProductExec],
        "searchBatch plan contains a CartesianProduct")
    }
  }

  test("append reuses centroids and never rewrites existing cell files") {
    checkAppend(None)
  }

  test("delete tombstones probes out; applyDeletes rewrites only affected cells") {
    checkDeleteApply(None)
  }

  test("a tombstoned id is refused by append until applyDeletes") {
    checkTombstoneRefusal(None)
  }

  test("tombstoned load keeps partition pruning AND broadcasts the anti-join") {
    val emb = Tables(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf_delplan")
      .resolve("idx").toString
    val centroids = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path)
    IvfIndex.delete(emb.filter(col("vec_id") % 9 === 0), "vec_id",
      "embedding", path)
    val query = emb.filter(col("vec_id") === 1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val res = IvfIndex.search(IvfIndex.load(spark, path), centroids, query,
      k = 10, nprobe = 3)
    val plan = res.queryExecution.executedPlan
    val scan = (plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case f: FileSourceScanExec => f }
      .find(_.relation.location.rootPaths.exists(_.toString.contains("idx")))
      .get
    // the cell filter must still prune partitions THROUGH the anti-join
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "cell_id")),
      s"cell filter lost under the tombstone join: ${scan.partitionFilters}")
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftAnti"),
      s"tombstone exclusion must be a broadcast anti-join:\n$s")
    assert(!s.contains("SortMergeJoin"), s"shuffle join in the probe plan:\n$s")
  }

  test("a torn append (journal ≠ stamp) is refused and forces a rebuild") {
    layouts.foreach(pq => withClue(s"codes $pq: ") {
    val emb = Tables(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf_torn")
      .resolve("idx").toString
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path, pq = pq)
    // simulate a crash between the data write and the stamp advance
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_ivf_journal"), "999:8:1.0:0:fp0\n")
    val e = intercept[IllegalStateException] {
      IvfIndex.append(emb.limit(5), "vec_id", "embedding", path)
    }
    assert(e.getMessage.contains("incomplete append"))
    // freshness check sees the torn artifact as stale → rebuild arm
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path, pq = pq)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_ivf_journal")),
      "rebuild must clear the journal")
    // healthy again: append round-trips
    val ids = IvfIndex.load(spark, path).count()
    assert(ids == emb.count())
    })
  }

  test("training is deterministic under the fixed seed") {
    val emb = Tables(spark, sfDir, "embeddings")
    val c1 = IvfIndex.trainCentroids(emb, "embedding", nlist = 8)
    val c2 = IvfIndex.trainCentroids(emb, "embedding", nlist = 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
  }

  test("distributed refinement cuts sample bias, stays layout-independent") {
    val emb = Tables(spark, sfDir, "embeddings")
    // a deliberately biased start: train on a thin sample
    val coarse = IvfIndex.trainCentroids(emb, "embedding", nlist = 8,
      sampleFraction = 0.05)
    val before = IvfIndex.quantizationError(emb, "embedding", coarse)
    val refined = IvfIndex.refineCentroids(emb, "embedding", coarse, iters = 2)
    val after = IvfIndex.quantizationError(emb, "embedding", refined)
    // Lloyd iterations never increase the objective
    assert(after <= before + 1e-9,
      s"refinement worsened quantization error: $before -> $after")
    // decimal means make the refined matrix layout-independent: the same
    // refinement over a repartitioned corpus is bit-identical
    val refined2 = IvfIndex.refineCentroids(emb.repartition(7), "embedding",
      coarse, iters = 2)
    assert(refined.map(_.toSeq).toSeq == refined2.map(_.toSeq).toSeq,
      "refined centroids differ across partition layouts")
    // an empty cell keeps its previous centroid
    val far = coarse.map(_.clone())
    far(7) = far(7).map(_ + 1e6f) // nothing assigns to a centroid 1e6 away
    val keep = IvfIndex.refineCentroids(emb, "embedding", far, iters = 1)
    assert(keep(7).toSeq == far(7).toSeq,
      "empty cell's centroid moved during refinement")
    // lifecycle: refinement rides the stamp — a refined build revalidates
    // (the paid scans are not discarded) and the knob is a config change
    val path = java.nio.file.Files.createTempDirectory("ivf_refined")
      .resolve("idx").toString
    val built = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path,
      sampleFraction = 0.05, refineIters = 2)
    assert(built.map(_.toSeq).toSeq == refined.map(_.toSeq).toSeq,
      "persisted matrix is not the refined one")
    val reloaded = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path,
      sampleFraction = 0.05, refineIters = 2)
    assert(reloaded.map(_.toSeq).toSeq == built.map(_.toSeq).toSeq,
      "refined build did not revalidate — the refinement was re-paid")
    val plain = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path,
      sampleFraction = 0.05)
    assert(plain.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq,
      "knob change must rebuild to the unrefined matrix")
  }

  test("compact: metadata-only no-op when balanced, rebalance when skewed") {
    checkCompact(None)
  }

  test("buildIfAbsent validates the compacted stamp without rebuilding") {
    val emb = Tables(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf_cmp2")
      .resolve("idx").toString
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path,
      sampleFraction = 0.5)
    // force a rewrite regardless of skew, then ensure the stamp it wrote
    // is the one buildIfAbsent computes (fingerprint + config round-trip)
    IvfIndex.compact(emb, "vec_id", "embedding", path, maxSkew = 0.0)
    def files() = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val compacted = files()
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path,
      sampleFraction = 0.5)
    assert(files() == compacted,
      "buildIfAbsent rebuilt over a freshly compacted index")
  }

  test("searchBatch range-splits above maxBatch with identical results") {
    val emb = Tables(spark, sfDir, "embeddings")
    val centroids = IvfIndex.trainCentroids(emb, "embedding", nlist = 16)
    val idx = IvfIndex.build(emb, "vec_id", "embedding", centroids)
    val queries = emb.filter(col("vec_id") < 9)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val whole = IvfIndex.searchBatch(idx, centroids, queries, "query_id",
      "qv", k = 5, nprobe = 4)
    val split = IvfIndex.searchBatch(idx, centroids, queries, "query_id",
      "qv", k = 5, nprobe = 4, maxBatch = 2)
    // the oversized batch actually took the sliced path (a Union of
    // per-slice probe joins), and the union IS the unsplit answer
    assert(split.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.nonEmpty, "maxBatch=2 with 9 queries did not range-split")
    assert(whole.queryExecution.logical.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.isEmpty, "an in-bounds batch must not split")
    assert(rows(split) == rows(whole),
      "range-split changed the result set")
  }

  test("adversarial apply churn: probes never silently lose a cell") {
    checkApplyChurn(None)
  }

  test("every meta write bumps the manifest generation nonce") {
    checkGenNonce(None)
  }

  test("rawFloor cuts on the RAW cosine before rounding AND before the " +
      "top-k — the serving front doors' brute-arm floor parity") {
    import spark.implicits._
    // unit 2-d vectors: the cosine against q=(1,0) IS the x component,
    // so the floor boundary is exactly controllable. id 1's raw −0.90004
    // ROUNDS to −0.9000 (it would pass a post-round `score >= −0.9`
    // filter — the bug this pins against) but sits BELOW the raw floor;
    // id 2's −0.89996 rounds to the same −0.9000 and sits above it.
    def v(x: Double) =
      Seq(x.toFloat, math.sqrt(math.max(0.0, 1 - x * x)).toFloat)
    val emb = Seq((1L, v(-0.90004)), (2L, v(-0.89996)), (3L, v(0.5)))
      .toDF("id", "embedding")
    val centroids = Array(Array(1f, 0f), Array(-1f, 0f))
    val idx = IvfIndex.build(emb, "id", "embedding", centroids)
    val q = Array(1f, 0f)
    val unfloored = IvfIndex.search(idx, centroids, q, k = 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(unfloored == Set(1L, 2L, 3L))
    val floored = IvfIndex.search(idx, centroids, q, k = 10, nprobe = 2,
        rawFloor = Some(-0.9))
      .collect().map(_.getLong(0)).toSet
    assert(floored == Set(2L, 3L),
      "raw −0.90004 rounds to −0.9000 but must not pass the raw floor")
    // the floor runs BEFORE the top-k: with k=2 the sub-floor row must
    // not occupy a slot (a post-top-k filter would return only {3})
    val batchQ = Seq((7L, q.toSeq)).toDF("query_id", "qv")
    val batch = IvfIndex.searchBatch(idx, centroids, batchQ,
        "query_id", "qv", k = 2, nprobe = 2, rawFloor = Some(-0.9))
      .collect().map(_.getLong(1)).toSet
    assert(batch == Set(2L, 3L),
      s"sub-floor row wasted a top-k slot: $batch")
  }
}
