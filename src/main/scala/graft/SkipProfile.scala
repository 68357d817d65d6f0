package graft

import org.apache.spark.sql.SparkSession

/** The data-skipping scale measurement (BENCH_NOTES): does a SELECTIVE
  * filtered analyze stay O(matching segments) — flat as the committed
  * chain grows 10× — while the unpruned scan it replaces grows with the
  * chain?
  *
  * Shape: build an append chain of `nSegs` one-commit segments whose
  * `part` metadata equals the segment ordinal (the correlated layout a
  * real ingest-by-source or ingest-by-day store has), then time the same
  * filtered count through [[graft.memo.MemoEngine.analyzeCount]] (reads
  * through `recordsForFilter` — `_metastats` pruning) and through the
  * unpruned frame (the pre-r13 path). The design claim: the pruned read
  * touches ONE segment's files at any chain length; the reference scan
  * touches all of them.
  *
  * Usage: `runMain graft.SkipProfile [segsList] [docsPerSeg]`
  * (defaults "12,120" and 50 — the 1× vs 10× chain pair).
  */
object SkipProfile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(
        Set("cluster", "dict", "zorder", "fann", "phases",
          "bm25batch", "drift")) match {
      case Some(m) => m
      case None => "range"
    }
    val rest = if (mode == "range") args else args.drop(1)
    val segsList = rest.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(12, 120))
    val docsPerSeg = rest.lift(1).map(_.toInt).getOrElse(50)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosFlag, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "cluster" => segsList.foreach(runCluster(spark, _, docsPerSeg))
      case "dict" => segsList.foreach(runDict(spark, _, docsPerSeg))
      case "zorder" => segsList.foreach(runZorder(spark, _, docsPerSeg))
      case "fann" => segsList.foreach(runFann(spark, _, docsPerSeg))
      case "phases" => segsList.foreach(runPhases(spark, _, docsPerSeg))
      case "bm25batch" =>
        segsList.foreach(runBm25Batch(spark, _, docsPerSeg))
      case "drift" => segsList.foreach(runDrift(spark, _, docsPerSeg))
      case _ => segsList.foreach(run(spark, _, docsPerSeg))
    }
    spark.stop()
  }

  /** The IVF occupancy-drift leg (round 17): probe cost degraded by a
    * drifting ingest distribution, recovered by [[MemoEngine.retrainIvf]].
    * A diverse seed corpus trains the quantizer; `nSegs` appended
    * segments of near-identical docs then pile into a few hot cells
    * (the append arm reuses centroids — correct per increment, drifting
    * in aggregate), so a fixed-nprobe probe of the drifted region scans
    * most of the appended corpus. After the metadata-triggered retrain
    * the same probe scans ~nprobe/nlist of it. Reports the stored-skew
    * statistic (no job) before/after, the probe latency before/after,
    * and the retrain cost (the honest O(corpus) rebuild reference).
    * Run via `runMain graft.SkipProfile drift [segsList] [docsPerSeg]`
    * (e.g. "40" and 200 → 8000 drifted rows). */
  private[graft] def runDrift(spark: SparkSession, nSegs: Int,
      docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_drift")
    val engine = new graft.memo.MemoEngine(spark,
      base.resolve("db").toString, maxSegments = 1000000)
    engine.save((0 until 256).map(i =>
      s"---\nbody: seed topic$i theme${i % 13} subject${i % 29} " +
        s"angle${i % 7} facet$i\n").mkString)
    engine.annRecall("seed topic1 theme1", k = 3).collect() // train
    val skewSeed = engine.ivfSkew().getOrElse(-1.0)
    // the drifted distribution has INTERNAL structure (16 subtopics
    // sharing a common phrase): the stale quantizer maps the whole
    // family into its few nearest seed cells, while a retrained one
    // gives the subtopics their own cells — exactly the recoverable
    // degradation the skew statistic is for
    (0 until nSegs).foreach(s => engine.save((0 until docsPerSeg).map(i =>
      s"---\nbody: drifted corpus subtopic${i % 16} marker${i % 16} " +
        s"recurring phrase detail$s$i\n").mkString))
    engine.annRecall("seed topic1 theme1", k = 3).collect() // catch-up
    val skewBefore = engine.ivfSkew().getOrElse(-1.0)
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def probe(): Double = (0 until 3).map(_ => timed {
      engine.annRecall("drifted corpus subtopic7 marker7", k = 10,
        nprobe = 2).collect()
    }).min
    // the cost that matters at scale: ROWS the fixed-nprobe probe scans
    // (probed cells' occupancy) — latency at this corpus size is mostly
    // fixed job overhead, row counts are the 100× signal
    val ivfPath = base.resolve("db").resolve("_ann").toString
    def probedRows(): Long = {
      val ctr = graft.ops.IvfIndex.readCentroids(spark, ivfPath).get
      val occ = graft.ops.IvfIndex.readOccupancy(spark, ivfPath).get
      val qv = graft.functions.VectorKernels.hashEmbedFloats(
        "drifted corpus subtopic7 marker7",
        ctr.headOption.map(_.length).getOrElse(64))
      graft.ops.IvfIndex.probeCells(ctr, qv, 2).map(occ(_)).sum
    }
    val rowsBefore = probedRows()
    val probeBefore = probe()
    val tRetrain = timed {
      require(engine.retrainIvf(maxSkew = 4.0),
        s"drift leg expected the retrain to fire at skew $skewBefore")
    }
    val skewAfter = engine.ivfSkew().getOrElse(-1.0)
    val rowsAfter = probedRows()
    val probeAfter = probe()
    println(f"[drift] segs=$nSegs%4d docs/seg=$docsPerSeg " +
      f"rows=${engine.records.count()}%6d skewSeed=$skewSeed%.1f " +
      f"skewDrifted=$skewBefore%.1f probedRowsBefore=$rowsBefore%6d " +
      f"probeBefore=$probeBefore%.3fs retrain=$tRetrain%.2fs " +
      f"skewAfter=$skewAfter%.1f probedRowsAfter=$rowsAfter%6d " +
      f"probeAfter=$probeAfter%.3fs")
    engine.clean()
    ()
  }

  private def run(spark: SparkSession, nSegs: Int, docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_skip")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString,
      maxSegments = 1000000) // long chain, no auto-fold
    def batchYaml(seg: Int) = (0 until docsPerSeg).map(d =>
      s"---\nbody: skip corpus segment $seg doc $d\n" +
        s"metadata: {part: p$seg, n: ${d % 7}}\n").mkString
    val t0 = System.nanoTime()
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val buildSec = (System.nanoTime() - t0) / 1e9
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val filter = "part: p7"
    val expect = docsPerSeg.toLong
    def prunedCount(): Unit =
      require(engine.analyzeCount(filter) == expect)
    def fullCount(): Unit =
      require(graft.memo.MemoOps.analyzeCount(engine.records, filter)
        .collect()(0).getLong(0) == expect)
    prunedCount(); fullCount() // warm (plans, footers, page cache)
    val pruned = (0 until 3).map(_ => timed(prunedCount())).min
    val full = (0 until 3).map(_ => timed(fullCount())).min
    val (kept, total) = engine.segmentPrune(filter)
    println(f"[skip] segs=$nSegs%4d docsPerSeg=$docsPerSeg " +
      f"build=$buildSec%.1fs kept=$kept/$total " +
      f"prunedCount=$pruned%.3fs fullScanCount=$full%.3fs")
    engine.clean()
    ()
  }

  /** The dictionary leg: every segment's `part` values SPAN the same
    * str() range (p000…p039 interleaved), so min/max bounds can never
    * prune — but each segment holds only a 3-value WINDOW of the
    * domain, so the exact value dictionaries prune an equality filter
    * to the few segments whose window covers it. Run via
    * `runMain graft.SkipProfile dict [segsList] [docsPerSeg]`. */
  private[graft] def runDict(spark: SparkSession, nSegs: Int,
      docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_skipd")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString,
      maxSegments = 1000000)
    val domain = 40
    def batchYaml(seg: Int) = (0 until docsPerSeg).map { d =>
      val p = (seg + d % 3) % domain // 3-value window per segment
      f"---\nbody: dict corpus segment $seg doc $d\n" +
        f"metadata: {part: p$p%03d}\n"
    }.mkString
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val filter = "part: p007" // in segments 5, 6, 7 (mod domain)
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val expect = graft.memo.MemoOps.analyzeCount(engine.records, filter)
      .collect()(0).getLong(0)
    require(expect > 0)
    def prunedCount(): Unit =
      require(engine.analyzeCount(filter) == expect)
    def fullCount(): Unit =
      require(graft.memo.MemoOps.analyzeCount(engine.records, filter)
        .collect()(0).getLong(0) == expect)
    prunedCount(); fullCount() // warm
    val pruned = (0 until 3).map(_ => timed(prunedCount())).min
    val full = (0 until 3).map(_ => timed(fullCount())).min
    val (kept, total) = engine.segmentPrune(filter)
    println(f"[skip-dict] segs=$nSegs%4d docsPerSeg=$docsPerSeg " +
      f"kept=$kept/$total prunedCount=$pruned%.3fs fullScanCount=$full%.3fs")
    engine.clean()
    ()
  }

  /** The multi-key (Z-order) leg: TWO uncorrelated keys, every segment
    * holding the full 8×8 value grid — no layout can be built by
    * sorting on one key that prunes the other, which is exactly what
    * this measures: after `clusterBy(Seq("ka"))` filters on ka prune
    * but kb stays unprunable; after `clusterBy(Seq("ka","kb"))` ONE
    * z-ordered layout prunes selective equality filters on EITHER key
    * (and their conjunction harder still). Run via
    * `runMain graft.SkipProfile zorder [segsList] [docsPerSeg]`. */
  private[graft] def runZorder(spark: SparkSession, nSegs: Int,
      docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_skipz")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString,
      maxSegments = 1000000)
    val dps = math.max(docsPerSeg, 64) // cover the full 8×8 grid per seg
    def batchYaml(seg: Int) = (0 until dps).map(d =>
      s"---\nbody: zorder corpus segment $seg doc $d\n" +
        s"metadata: {ka: a${d % 8}, kb: b${(d / 8) % 8}}\n").mkString
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val (fa, fb, fab) = ("ka: a3", "kb: b5", "{ka: a3, kb: b5}")
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def expect(f: String) = graft.memo.MemoOps
      .analyzeCount(engine.records, f).collect()(0).getLong(0)
    val (ea, eb, eab) = (expect(fa), expect(fb), expect(fab))
    require(ea > 0 && eb > 0 && eab > 0)
    def count(f: String, e: Long): Unit =
      require(engine.analyzeCount(f) == e)
    def leg(tag: String): String = {
      count(fa, ea); count(fb, eb); count(fab, eab) // warm
      val ta = (0 until 3).map(_ => timed(count(fa, ea))).min
      val tb = (0 until 3).map(_ => timed(count(fb, eb))).min
      val (ka, t0) = engine.segmentPrune(fa)
      val (kb, _) = engine.segmentPrune(fb)
      val (kab, _) = engine.segmentPrune(fab)
      f"$tag ka=$ka/$t0 ${ta}%.3fs kb=$kb/$t0 ${tb}%.3fs both=$kab/$t0"
    }
    val flat = leg("uncorrelated:")
    val oneKeySec = timed(engine.clusterBy(Seq("ka"), nClusters = 16))
    val oneKey = leg("clusterBy(ka):")
    val zSec = timed(engine.clusterBy(Seq("ka", "kb"), nClusters = 16))
    val z = leg("clusterBy(ka,kb):")
    println(f"[skip-zorder] segs=$nSegs%4d docsPerSeg=$dps " +
      f"$flat | $oneKey (rewrite $oneKeySec%.1fs) | $z (rewrite $zSec%.1fs)")
    engine.clean()
    ()
  }

  /** The filtered-ANN selectivity leg: one ingest-correlated chain, one
    * engine-maintained IVF artifact, and the SAME query served through
    * `annRecall` under filters of stepped selectivity (one segment ≈1%,
    * 10%, 50%, match-all, and unfiltered) plus the filtered brute-force
    * `recall` at the extremes. The design claims this measures: a
    * SELECTIVE filter costs O(matching segments) mask derivation + one
    * shortcut probe pass (not a chain scan), a BROAD filter keeps the
    * plain probe economics, and the brute-force alternative pays the
    * corpus. Run via `runMain graft.SkipProfile fann [segsList] [docsPerSeg]`. */
  private[graft] def runFann(spark: SparkSession, nSegs: Int,
      docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_fann")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString,
      maxSegments = 1000000)
    def batchYaml(seg: Int) = (0 until docsPerSeg).map(d =>
      f"---\nbody: fann corpus segment $seg doc $d topic${d % 5}\n" +
        f"metadata: {part: p$seg%03d}\n").mkString
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val q = "fann topic2 corpus"
    engine.annRecall(q, k = 10, nprobe = 4).collect() // build + warm IVF
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val legs: Seq[(String, Option[String])] = Seq(
      ("unfiltered", None),
      ("1seg", Some(f"part: p${nSegs - 3}%03d")),
      ("10pct", Some(f"{part: {$$gte: p${nSegs - nSegs / 10}%03d}}")),
      ("50pct", Some(f"{part: {$$gte: p${nSegs / 2}%03d}}")),
      ("all", Some("{}")))
    val parts = legs.map { case (label, f) =>
      def serve(): Unit =
        require(engine.annRecall(q, k = 10, nprobe = 4, filterExpr = f)
          .collect().length == 10)
      serve() // warm the mask derivation / plan
      val t = (0 until 3).map(_ => timed(serve())).min
      val prune = f.map(engine.segmentPrune).map(p => s"${p._1}/${p._2}")
        .getOrElse("-")
      val probe = if (f.isEmpty) "-"
        else engine.lastFilteredAnnProbe
          .map(p => s"np${p._1}r${p._2}").getOrElse("-")
      f"$label=$t%.3fs(kept $prune, $probe)"
    }
    // the brute-force alternative at both extremes, for scale contrast
    def brute(f: Option[String]): Double = {
      def run(): Unit =
        require(engine.recall(q, k = 10, filterExpr = f)
          .collect().length == 10)
      run(); (0 until 3).map(_ => timed(run())).min
    }
    val b1 = brute(Some(f"part: p${nSegs - 3}%03d"))
    val bAll = brute(None)
    println(f"[fann] segs=$nSegs%4d docsPerSeg=$docsPerSeg " +
      parts.mkString(" ") +
      f" | brute: 1seg=$b1%.3fs all=$bAll%.3fs")
    engine.clean()
    ()
  }

  /** The q101 PHASE-TIMING leg (the r14 verdict's ask #5): the fann
    * table conflates mask derivation and widening — this leg holds the
    * layout FIXED and times each phase of the filtered ANN serving path
    * separately: mask derivation (the segment-pruned scan + the cached
    * count that buys the ≤k shortcut), then ONE probe pass per ladder
    * rung (nprobe = 1, 2, 4, …, nlist) against the SAME cached mask —
    * the numbers the serving router's thresholds should be set from,
    * instead of end-to-end totals. The filter is mid-selective
    * (~25% of segments, survivors ≫ k) so every rung does real work.
    * Run via `runMain graft.SkipProfile phases [segsList] [docsPerSeg]`. */
  private[graft] def runPhases(spark: SparkSession, nSegs: Int,
      docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_fannp")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString,
      maxSegments = 1000000)
    def batchYaml(seg: Int) = (0 until docsPerSeg).map(d =>
      f"---\nbody: phase corpus segment $seg doc $d topic${d % 5}\n" +
        f"metadata: {part: p$seg%03d}\n").mkString
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val q = "phase topic2 corpus"
    val filter = f"{part: {$$gte: p${nSegs - nSegs / 4}%03d}}" // ~25%
    engine.annRecall(q, k = 10, nprobe = 4).collect() // build + warm IVF
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def best(f: => Unit): Double = { f; (0 until 3).map(_ => timed(f)).min }
    // phase 1: mask derivation + the count that buys the ≤k shortcut
    // (cold per serve call — annRecall re-derives it each time)
    val tMask = best {
      val m = engine.annMask(filter).cache()
      try require(m.count() > 10) finally m.unpersist()
    }
    // phases 2..n: one probe pass per rung against a pre-cached mask
    val mask = engine.annMask(filter).cache()
    val survivors = mask.count()
    val centroids = graft.ops.IvfIndex.readCentroids(spark, engine.annDir)
      .getOrElse(sys.error("no IVF artifact"))
    val idx = graft.ops.IvfIndex.load(spark, engine.annDir)
    val qv = graft.functions.VectorKernels.hashEmbedFloats(
      q, graft.functions.VectorKernels.DefaultDim)
    val ladder = Iterator.iterate(1)(_ * 2)
      .takeWhile(_ < centroids.length).toSeq :+ centroids.length
    val rungs = ladder.map { np =>
      val t = best {
        // raw search has no widening: a narrow rung may legitimately
        // under-fill under an unlucky centroid layout — only the full
        // probe (survivors ≫ k there) must return exactly k
        val n = graft.ops.IvfIndex.search(idx, centroids, qv, 10, np,
          Some(mask)).collect().length
        require(n <= 10 && (np < centroids.length || n == 10))
      }
      f"np$np=$t%.3fs"
    }
    mask.unpersist()
    // contrast: the end-to-end serve total these phases compose into —
    // the EXPLICIT arm pays the widening ladder from nprobe=1…
    val tServe = best {
      require(engine.annRecall(q, k = 10, nprobe = 1,
        filterExpr = Some(filter)).collect().length == 10)
    }
    val ladderRungs = engine.lastFilteredAnnProbe.getOrElse((0, 0))
    // …while the FRONT DOOR at the same nominal nprobe starts
    // bound-aware (the r16 adaptive start — bruteRows=0 forces the probe
    // route so the two numbers compare the ladders, not the routes)
    val tDoor = best {
      require(engine.recallServe(q, k = 10, nprobe = 1,
        filterExpr = Some(filter), bruteRows = 0L)
        .collect().length == 10)
    }
    val doorRungs = engine.lastFilteredAnnProbe.getOrElse((0, 0))
    // TIGHT filter (one segment's survivors): np1 probes ~1/nlist of
    // them and must widen — the case the bound-aware start collapses
    // to one pass (each avoided rung is a pass + its fill collect)
    val tight = f"{part: p${nSegs - 1}%03d}"
    val tTightLadder = best {
      engine.annRecall(q, k = 10, nprobe = 1,
        filterExpr = Some(tight)).collect()
    }
    val tightLadderRungs = engine.lastFilteredAnnProbe.getOrElse((0, 0))
    val tTightDoor = best {
      engine.recallServe(q, k = 10, nprobe = 1,
        filterExpr = Some(tight), bruteRows = 0L).collect()
    }
    val tightDoorRungs = engine.lastFilteredAnnProbe.getOrElse((0, 0))
    val (kept, total) = engine.segmentPrune(filter)
    println(f"[fann-phases] segs=$nSegs%4d docsPerSeg=$docsPerSeg " +
      f"kept=$kept/$total survivors=$survivors mask=$tMask%.3fs " +
      rungs.mkString(" ") +
      f" | annRecall(np1)=$tServe%.3fs rungs=$ladderRungs" +
      f" | recallServe(np1,adaptive)=$tDoor%.3fs rungs=$doorRungs" +
      f" | tight: ladder=$tTightLadder%.3fs rungs=$tightLadderRungs" +
      f" door=$tTightDoor%.3fs rungs=$tightDoorRungs")
    engine.clean()
    ()
  }

  /** The batch-vocabulary pruning leg ([[graft.ops.Lexical
    * .searchBm25Batch]]'s threshold switch, BENCH_NOTES r16): at a
    * pipeline-scale union vocabulary (`nTerms` distinct batch terms over
    * a `docs`-doc corpus), compare the collected-`isin` arm against the
    * broadcast semi-join arm — identical per-query results (asserted),
    * with the LITERAL arm's optimized plan growing with the vocabulary
    * (the IN list embeds every term — the driver-memory-and-plan-size
    * growth the switch kills) while the semi-join arm's plan stays flat.
    * Run via `runMain graft.SkipProfile bm25batch [termsList] [docs]`. */
  private[graft] def runBm25Batch(spark: SparkSession, nTerms: Int,
      docs: Int): Unit = {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_lexb")
    val path = base.resolve("idx").toString
    // 12 terms per doc, ids striped so the corpus vocabulary covers the
    // whole term space once docs*12 >= nTerms
    val corpus = spark.range(docs.toLong).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(j =>
        concat(lit("w"), ((col("id") * 12 + j) % nTerms).cast("string"))
      ): _*).as("text"))
    graft.ops.Lexical.writeIndex(corpus, "doc_id", "text", path)
    // 64 queries sharing the union vocabulary of nTerms distinct terms
    val qt = spark.range(nTerms.toLong).select(
      (col("id") % 64).as("query_id"),
      concat(lit("w"), col("id").cast("string")).as("term"))
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def best(f: => Unit): Double = { f; (0 until 3).map(_ => timed(f)).min }
    def leg(label: String, limit: Int): (Double, Int, Long) = {
      def frame() = graft.ops.Lexical.searchBm25Batch(spark, path, qt,
        k = 10, isinTermLimit = limit)
      val planChars = frame().queryExecution.optimizedPlan.toString.length
      var rows = 0L
      val t = best { rows = frame().count() }
      (t, planChars, rows)
    }
    val (tIsin, planIsin, rowsIsin) = leg("isin", nTerms + 1)
    val (tSemi, planSemi, rowsSemi) = leg("semijoin", 1)
    require(rowsIsin == rowsSemi,
      s"arm row counts diverged: $rowsIsin vs $rowsSemi")
    println(f"[bm25-batch] terms=$nTerms%6d docs=$docs rows=$rowsIsin " +
      f"isin=$tIsin%.3fs planChars=$planIsin " +
      f"semijoin=$tSemi%.3fs planChars=$planSemi")
    ()
  }

  /** The layout-fix leg: an UNCORRELATED chain (every segment holds
    * every part, so stats prune nothing), then [[graft.memo.MemoEngine
    * .clusterBy]] on the filter key — same filtered count before and
    * after, with prune counts and times for both layouts plus the
    * rewrite's own cost. Run via
    * `runMain graft.SkipProfile cluster [nSegs] [docsPerSeg]`. */
  private[graft] def runCluster(spark: SparkSession, nSegs: Int,
      docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_skipc")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString,
      maxSegments = 1000000)
    val nParts = 16
    def batchYaml(seg: Int) = (0 until docsPerSeg).map(d =>
      s"---\nbody: cluster corpus segment $seg doc $d\n" +
        s"metadata: {part: p${d % nParts}}\n").mkString // every part, every seg
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val filter = "part: p7"
    val expect = nSegs.toLong * (docsPerSeg / nParts)
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def count(): Unit = require(engine.analyzeCount(filter) == expect)
    count() // warm
    val beforeT = (0 until 3).map(_ => timed(count())).min
    val (k0, t0) = engine.segmentPrune(filter)
    val clusterSec = timed(engine.clusterBy("part", nClusters = nParts))
    count() // warm the new layout
    val afterT = (0 until 3).map(_ => timed(count())).min
    val (k1, t1) = engine.segmentPrune(filter)
    println(f"[skip-cluster] segs=$nSegs%4d docsPerSeg=$docsPerSeg " +
      f"uncorrelated=$k0/$t0 ${beforeT}%.3fs -> clusterBy=$clusterSec%.1fs " +
      f"-> clustered=$k1/$t1 ${afterT}%.3fs")
    engine.clean()
    ()
  }
}
