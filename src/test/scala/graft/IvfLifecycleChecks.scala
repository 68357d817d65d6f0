package graft

import org.apache.spark.sql.functions._

import graft.ops.{IvfIndex, PqIndex}

/** The IVF artifact's lifecycle checks — append, delete + apply,
  * tombstone refusal, compaction, apply churn, generation nonce — written
  * once over the artifact layout: `None` is plain IVF, `Some((m, ksub))`
  * the same artifact with PQ codes (the IVF-PQ layout). IvfIndexSpec runs
  * them on the plain layout, PqIndexSpec with codes, where they also pin
  * what the codes half adds: appends reuse the codebooks, compaction
  * retrains them, codes still decode after an apply, and the ADC route
  * serves the maintained artifact. */
trait IvfLifecycleChecks { this: SparkTestBase =>

  protected def codebooks(path: String) =
    IvfIndex.metaAt(spark, path).flatMap(_.codebooks)
      .map(_.map(_.map(_.toSeq).toSeq).toSeq)

  /** Every stored row's code equals its embedding encoded under the
    * artifact's stored codebooks (a no-op for a plain IVF artifact). */
  protected def assertCodesDecode(path: String): Unit =
    IvfIndex.metaAt(spark, path).flatMap(_.codebooks).foreach { cbs =>
      val idx = IvfIndex.load(spark, path)
      val stale = idx.filter(!(col("code") ===
        graft.functions.GraftFunctions.pqEncode(col("embedding"), cbs)))
      assert(stale.count() == 0,
        "a stored code no longer matches its embedding under the codebooks")
    }

  /** Append reuses the stored quantizers and only adds cell files. */
  protected def checkAppend(pq: Option[(Int, Int)]): Unit = {
    val emb = Tables(spark, sfDir, "embeddings")
    val seed = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val path = java.nio.file.Files.createTempDirectory("ivf_app")
      .resolve("idx").toString
    val c1 = IvfIndex.buildIfAbsent(seed, "vec_id", "embedding", 8, path,
      pq = pq)
    val cb1 = codebooks(path)
    assert(cb1.isDefined == pq.isDefined)
    def dataFiles() = {
      val root = java.nio.file.Paths.get(path)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = dataFiles()
    val c2 = IvfIndex.append(batch, "vec_id", "embedding", path)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq,
      "append must reuse the stored centroids")
    assert(codebooks(path) == cb1, "append must reuse the stored codebooks")
    assertCodesDecode(path)
    val after = dataFiles()
    before.foreach { case (f, mtime) =>
      assert(after.contains(f), s"append removed existing file $f")
      assert(after(f) == mtime, s"append rewrote existing file $f")
    }
    assert(after.size > before.size, "append added no files")
    val idx = IvfIndex.load(spark, path)
    assert(idx.count() == emb.count(), "appended index lost rows")
    // stamp advanced: buildIfAbsent over the grown corpus validates the
    // appended index instead of retraining + rewriting
    val c3 = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path,
      pq = pq)
    assert(c3.map(_.toSeq).toSeq == c1.map(_.toSeq).toSeq,
      "grown-corpus buildIfAbsent retrained despite a valid appended stamp")
    assert(dataFiles() == after, "grown-corpus buildIfAbsent rewrote files")
    // recall on the grown index: full probe still equals exact
    val query = emb.filter(col("vec_id") === 1)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val exact = emb
      .withColumn("score",
        graft.functions.GraftFunctions.vecCosine(col("embedding"),
          lit(query)))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSet
    val grown = IvfIndex.search(idx, c2, query, k = 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(grown == exact, "full-probe search over appended index drifted")
  }

  /** Delete tombstones probes out; apply rewrites only the affected cell. */
  protected def checkDeleteApply(pq: Option[(Int, Int)]): Unit = {
    val emb = Tables(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf_del")
      .resolve("idx").toString
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path, pq = pq)
    val cb0 = codebooks(path)
    def dataFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(path))
        .iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains("_tombstones"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    // victims: half the members of ONE cell — bounds the later physical
    // apply to exactly that cell's partition directory
    val raw = spark.read.parquet(path)
    val cell = raw.select("cell_id").orderBy("cell_id").head().getInt(0)
    val cellIds = raw.filter(col("cell_id") === cell).select("id")
      .collect().map(_.getLong(0)).sorted
    val victimIds = cellIds.zipWithIndex.collect { case (id, i) if i % 2 == 0 => id }
    val victims = emb.filter(col("vec_id").isin(victimIds: _*))
    val survivors = emb.filter(!col("vec_id").isin(victimIds: _*))
    val before = dataFiles()
    IvfIndex.delete(victims, "vec_id", "embedding", path)
    assert(dataFiles() == before, "delete must not touch data files (O(batch))")
    // probes exclude the victims immediately
    val served = IvfIndex.load(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(victimIds.toSet).isEmpty, "tombstoned ids served")
    assert(served.size == emb.count() - victimIds.length)
    // the retreated stamp validates for corpus ∖ batch: NO rebuild
    IvfIndex.buildIfAbsent(survivors, "vec_id", "embedding", 8, path,
      pq = pq)
    assert(dataFiles() == before,
      "buildIfAbsent over the surviving corpus must reuse, not retrain")
    // physical apply rewrites ONLY the affected cell's partition
    assert(IvfIndex.applyDeletes(spark, path))
    val after = dataFiles()
    before.filterNot(_._1.contains(s"cell_id=$cell")).foreach {
      case (f, mtime) =>
        assert(after.get(f).contains(mtime), s"unaffected cell file touched: $f")
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_tombstones")),
      "applied tombstones must be cleared")
    // physically gone: with the tombstone table cleared (asserted above),
    // load IS the raw physical state — resolved through the cell manifest,
    // which now maps the rewritten cell to its _apply_<tag> parent (a
    // plain root read would not see it)
    val phys = IvfIndex.load(spark, path).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(phys == served, "physical apply changed the served set")
    // and no victim row survives in ANY live directory of the manifest
    assert(phys.intersect(victimIds.toSet).isEmpty,
      "victim rows still physically present after apply")
    // codebooks survive the apply, and the rewritten cells' codes still
    // decode under them
    assert(codebooks(path) == cb0, "apply changed the stored codebooks")
    assertCodesDecode(path)
    // and the stamp still validates (apply preserves it)
    IvfIndex.buildIfAbsent(survivors, "vec_id", "embedding", 8, path,
      pq = pq)
    assert(dataFiles() == after, "post-apply buildIfAbsent rebuilt")
    // the ADC route over the applied artifact: a full probe with a
    // victim's own vector as the query would rank that victim first if
    // any copy of it were still served
    IvfIndex.metaAt(spark, path).flatMap(m => m.codebooks.map(m.centroids -> _))
      .foreach { case (cents, cbs) =>
        val q = emb.filter(col("vec_id") === victimIds.head)
          .select("embedding").head().getSeq[Float](0).toArray
        val hits = PqIndex.searchIvfPq(IvfIndex.load(spark, path), cents, cbs,
            q, k = 10, nprobe = 8, refine = 4)
          .collect().map(_.getLong(0)).toSet
        assert(hits.nonEmpty && hits.intersect(victimIds.toSet).isEmpty,
          s"ADC search served a deleted id: $hits")
      }
  }

  /** A pending-delete id is refused by append until applyDeletes. */
  protected def checkTombstoneRefusal(pq: Option[(Int, Int)]): Unit = {
    val emb = Tables(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf_reuse")
      .resolve("idx").toString
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path, pq = pq)
    val victims = emb.filter(col("vec_id") % 13 === 0)
    IvfIndex.delete(victims, "vec_id", "embedding", path)
    // old rows still live in the cells: a re-append of a pending-delete
    // id would be masked by the tombstone while the stamp advanced
    val vid = victims.agg(min("vec_id")).head().getLong(0)
    val reAdd = emb.filter(col("vec_id") === vid)
    val e = intercept[IllegalStateException] {
      IvfIndex.append(reAdd, "vec_id", "embedding", path)
    }
    assert(e.getMessage.contains("pending delete"), e.getMessage)
    assert(IvfIndex.applyDeletes(spark, path))
    IvfIndex.append(reAdd, "vec_id", "embedding", path) // now legal
    val served = IvfIndex.load(spark, path).select("id")
      .collect().map(_.getLong(0))
    assert(served.count(_ == vid) == 1, "re-added id must serve exactly once")
  }

  /** Compaction no-ops when balanced and retrains when skewed. */
  protected def checkCompact(pq: Option[(Int, Int)]): Unit = {
    import spark.implicits._
    val emb = Tables(spark, sfDir, "embeddings")
    val path = java.nio.file.Files.createTempDirectory("ivf_cmp")
      .resolve("idx").toString
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path, pq = pq)
    def files() = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      try s.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    val fresh = files()
    // below-threshold skew: the check reads only the stamp, nothing moves
    assert(!IvfIndex.compact(emb, "vec_id", "embedding", path,
      maxSkew = 1e9), "compact must no-op when occupancy is within bounds")
    assert(files() == fresh, "a no-op compact rewrote index files")

    // a drifting ingest: a tight cluster (one vector + per-dim jitter) that
    // the frozen centroids funnel into one hot cell
    val v0 = emb.filter(col("vec_id") === 1)
      .select("embedding").head().getSeq[Float](0).toArray
    val hot = (0 until 500).map { i =>
      val v = v0.clone()
      v(i % v.length) += 0.002f * ((i % 7) + 1)
      (10000L + i, v)
    }.toDF("vec_id", "embedding")
    IvfIndex.append(hot, "vec_id", "embedding", path)
    val cbBefore = codebooks(path)
    val occBefore = IvfIndex.cellOccupancy(spark, path, 8)
    val skewBefore = IvfIndex.occupancySkew(occBefore.toSeq)
    assert(skewBefore > 4.0,
      s"hot-cluster append should skew occupancy, got $skewBefore")

    val grown = emb.select(col("vec_id"), col("embedding")).unionAll(hot)
    assert(IvfIndex.compact(grown, "vec_id", "embedding", path,
      maxSkew = 4.0), "compact must trigger above the skew threshold")
    val occAfter = IvfIndex.cellOccupancy(spark, path, 8)
    val skewAfter = IvfIndex.occupancySkew(occAfter.toSeq)
    assert(skewAfter < skewBefore,
      s"retrain did not rebalance: $skewBefore -> $skewAfter")
    assert(occAfter.sum == grown.count(), "compaction lost rows")
    // the codebooks retrain WITH the centroids: they are the grown
    // corpus's codebooks now, and every code was rewritten under them
    pq.foreach { case (m, ksub) =>
      val retrained = PqIndex.trainCodebooks(grown, "embedding", m, ksub)
        .map(_.map(_.toSeq).toSeq).toSeq
      assert(codebooks(path).contains(retrained),
        "compact must retrain the codebooks over the corpus")
      assert(!cbBefore.contains(retrained),
        "the hot cluster should have moved the codebooks")
    }
    assertCodesDecode(path)

    // the compacted index still answers exactly at full probe...
    val meta = IvfIndex.buildIfAbsent(grown, "vec_id", "embedding", 8, path,
      pq = pq)
    assert(files().nonEmpty)
    // score with search()'s own round4: the hot cluster is a wall of
    // near-ties, so the comparison must use the same rounding + id
    // tie-break the operator does
    val exact = grown
      .withColumn("score", graft.functions.GraftFunctions.round4(
        graft.functions.GraftFunctions.vecCosine(col("embedding"), lit(v0))))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10).collect().map(_.getLong(0)).toSet
    val viaIdx = IvfIndex.search(IvfIndex.load(spark, path), meta, v0,
      k = 10, nprobe = 8).collect().map(_.getLong(0)).toSet
    assert(viaIdx == exact, "full-probe search drifted through compaction")
    // ...and the recall floor holds again at a partial probe
    val part = IvfIndex.search(IvfIndex.load(spark, path), meta, v0,
      k = 10, nprobe = 4).collect().map(_.getLong(0)).toSet
    assert(part.intersect(exact).size >= 5,
      s"recall@10 after compaction = ${part.intersect(exact).size / 10.0}")
    // the ADC route serves the compacted artifact too: full probe with a
    // refine pool covering the corpus degenerates to exact search
    IvfIndex.metaAt(spark, path).flatMap(_.codebooks).foreach { cbs =>
      val viaPq = PqIndex.searchIvfPq(IvfIndex.load(spark, path), meta, cbs,
          v0, k = 10, nprobe = 8, refine = grown.count().toInt / 10 + 1)
        .collect().map(_.getLong(0)).toSet
      assert(viaPq == exact,
        "full-probe full-refine ADC search drifted through compaction")
    }
  }

  /** Physical apply churn never silently loses a cell to a probe. */
  protected def checkApplyChurn(pq: Option[(Int, Int)]): Unit = {
    // The manifest-gated visibility contract under PHYSICAL apply churn
    // (the IVF twin of LexicalSpec's fold churn), now including the
    // nastiest interleaving: each cycle deletes 5 rows, applies the
    // tombstones physically (rewriting their cells out of base), then
    // APPENDS the same 5 rows back — recreating root `cell_id=` dirs an
    // apply just moved out of base, the exact sequence that could once
    // satisfy a stale manifest's path with only the batch's rows
    // (serving ~a whole cell short, silently). With the generation
    // re-check every successful load().count() must sit inside
    // [n-5, n]: victims masked/removed (n-5), fully restored (n), or a
    // mid-append partial batch (between) — a silently lost cell would
    // read ~60 rows short of the floor here. Loud failures are allowed
    // only in the documented transient classes (old-manifest probe
    // racing the post-swap deletes, or the gen re-check exhausting its
    // attempts under churn).
    val emb = Tables(spark, sfDir, "embeddings").cache()
    val n = emb.count()
    val path = java.nio.file.Files.createTempDirectory("ivf_churn")
      .resolve("idx").toString
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path, pq = pq)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probeErrors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probeOk = new java.util.concurrent.atomic.AtomicLong(0)
    val prober = new Thread(() => {
      while (!stop.get()) {
        try {
          val c = IvfIndex.load(spark, path).count()
          if (c < n - 5 || c > n)
            probeErrors.add(s"probe saw count $c outside [${n - 5}, $n] " +
              "— a cell went silently missing")
          probeOk.incrementAndGet()
        } catch {
          case e: Throwable =>
            val s = e.toString + Option(e.getCause).fold("")(_.toString)
            // the documented loud-transient class: an old-manifest probe
            // racing the post-swap deletes (missing file, missing dir,
            // or a parent dir gone entirely — which surfaces as the
            // basePath option failing validation)
            // ("Invalid directory": the tombstone table's dir listing
            // racing its post-apply clear — loud is CORRECT there; an
            // old-manifest probe silently skipping the mask would serve
            // the victims instead)
            // ("manifest generation": stableRead exhausted its bounded
            // re-resolutions under relentless churn — loud and
            // retriable, the designed alternative to a silent miss)
            // ("NoSuchFile": the java.nio shape of the same mid-scan
            // delete on a Linux local FS — Spark wraps it in
            // FAILED_READ_FILE when a superseded dir's parquet or .crc
            // vanishes between the probe's listing and its read)
            if (!s.contains("FileNotFound") && !s.contains("NoSuchFile") &&
                !s.contains("does not exist") &&
                !s.contains("FILE_NOT_EXIST") && !s.contains("PATH_NOT_FOUND") &&
                !s.contains("basePath") && !s.contains("Invalid directory") &&
                !s.contains("manifest generation"))
              probeErrors.add(s"unexpected probe failure: $s")
        }
      }
    })
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).sorted
    prober.start()
    try {
      for (i <- 0 until 12) {
        val victims = allIds.slice(i * 5, i * 5 + 5).toSeq
        val batch = emb.filter(col("vec_id").isin(victims: _*))
        IvfIndex.delete(batch, "vec_id", "embedding", path)
        assert(IvfIndex.applyDeletes(spark, path))
        // recreate the just-applied cells from the batch — the stale-
        // manifest trap the generation re-check exists to detect
        IvfIndex.append(batch, "vec_id", "embedding", path)
      }
      // quiescent tail: on a loaded box every mid-churn probe can land
      // in a transient window — give the prober a post-churn interval
      // where probes must succeed, so the success floor below measures
      // the contract, not the box
      val tailDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (probeOk.get() <= 10 && System.nanoTime() < tailDeadline)
        Thread.sleep(100)
    } finally {
      stop.set(true)
      prober.join()
    }
    assert(probeErrors.isEmpty, probeErrors.toArray.mkString("\n"))
    assert(probeOk.get() > 10, s"only ${probeOk.get()} probes completed")
    // end state: every delete was appended back — full contents restored
    val finalIds = IvfIndex.load(spark, path)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(finalIds == allIds.toSet, "post-churn contents diverged")
    assertCodesDecode(path)
    emb.unpersist()
    ()
  }

  /** Every meta write bumps the manifest generation nonce. */
  protected def checkGenNonce(pq: Option[(Int, Int)]): Unit = {
    // The stableRead contract rests on one invariant: any maintenance
    // completion changes `gen:` in the meta header, so a probe that
    // resolved under a manifest and re-reads an UNCHANGED gen knows no
    // op published mid-resolution. Pin the bump across the lifecycle
    // (build → delete → apply → append → compact), each write distinct.
    val emb = Tables(spark, sfDir, "embeddings").cache()
    val path = java.nio.file.Files.createTempDirectory("ivf_gen")
      .resolve("idx").toString
    val conf = spark.sparkContext.hadoopConfiguration
    def gen() = IvfIndex.readHeaderManifest(conf, path).gen
    IvfIndex.buildIfAbsent(emb, "vec_id", "embedding", 8, path, pq = pq)
    val g0 = gen()
    assert(g0.nonEmpty, "build wrote no generation nonce")
    val batch = emb.filter(col("vec_id") < 5)
    IvfIndex.delete(batch, "vec_id", "embedding", path)
    val g1 = gen()
    IvfIndex.applyDeletes(spark, path)
    val g2 = gen()
    IvfIndex.append(batch, "vec_id", "embedding", path)
    val g3 = gen()
    IvfIndex.compact(emb, "vec_id", "embedding", path, maxSkew = 0.0)
    val g4 = gen()
    val gens = Seq(g0, g1, g2, g3, g4)
    assert(gens.distinct.size == gens.size,
      s"meta writes reused a generation nonce: $gens")
    emb.unpersist()
    ()
  }
}
