package graft

import org.apache.spark.sql.SparkSession

/** The 10×-committed-store maintenance measurement (BENCH_NOTES): does
  * the `ensure*` version-watermark catch-up stay O(new segment) — flat
  * as the store's version-chain history grows 10× — and what do
  * `reindex`/`vacuum` cost against that history?
  *
  * Shape: build a store by looping `save` (one commit = one segment; the
  * segment cap is raised so the chain never auto-folds), warm all three
  * maintained artifact families (postings / the IVF-PQ ANN artifact /
  * minhash signatures) to the live version, then repeatedly commit ONE more
  * segment and time each family's first post-commit serving call — that
  * call pays exactly one segment of catch-up. If the catch-up were
  * secretly a function of store size (a re-scan of the corpus, a
  * re-read of the whole artifact), the 10×-history store would show it;
  * the design claim is that only the new segment's rows are touched.
  * `reindex` (O(corpus) by design) and `vacuum` (O(superseded dirs))
  * are timed after, as the linear-by-design reference points.
  *
  * Usage: `runMain graft.MaintProfile [segsList] [docsPerSeg]`
  * (defaults "12,120" and 25 — the 1× vs 10× chain-history pair).
  */
object MaintProfile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption
      .filter(Set("wdview", "shardview", "compactview", "dupfold",
        "ccjobs")) match {
      case Some(m) => m
      case None => "families"
    }
    val rest = if (mode == "families") args else args.drop(1)
    val segsList = rest.headOption.map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(12, 120))
    val docsPerSeg = rest.lift(1).map(_.toInt).getOrElse(25)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config(Tables.NanosFlag, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "wdview" => segsList.foreach(runWdView(spark, _, docsPerSeg))
      case "shardview" =>
        (if (rest.isEmpty) Seq(3000, 30000) else segsList)
          .foreach(runShardView(spark, _))
      case "compactview" =>
        (if (rest.isEmpty) Seq(3000, 30000) else segsList)
          .foreach(runCompactView(spark, _))
      case "dupfold" =>
        (if (rest.isEmpty) Seq(3000, 30000) else segsList)
          .foreach(runDupFold(spark, _))
      case "ccjobs" =>
        (if (rest.isEmpty) Seq(4096) else segsList)
          .foreach(runCcJobs(spark, _))
      case _ => segsList.foreach(run(spark, _, docsPerSeg))
    }
    spark.stop()
  }

  /** The sharded-view-state scaling claim (round 17): a 1-row refresh
    * publish is O(touched shard + delta), FLAT as the view's GROUP COUNT
    * grows 10× — where the pre-shard publish rewrote every group. Builds
    * a store whose view has `nGroups` distinct groups (one doc per
    * group), registers a per-group view (the covering-stats-view shape —
    * exactly the high-cardinality case the statsPairs route encourages),
    * then times the refresh after a ONE-doc append and after a ONE-row
    * patch, reporting the publish seam (shards written vs carried).
    * The build leg is the honest O(groups) linear reference.
    * Run via `runMain graft.MaintProfile shardview [groupsList]`
    * (default "3000,30000"). */
  private[graft] def runShardView(spark: SparkSession, nGroups: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_shv")
    // shard target 512 so BOTH legs shard (3000 groups → ~8 shards,
    // 30000 → ~64): the flat claim is about rewriting ≤ one shard's
    // groups per 1-row refresh, whatever the total group count
    val engine = new graft.memo.MemoEngine(spark,
      base.resolve("db").toString, maxSegments = 1000000,
      viewShardRows = 512)
    def docYaml(g: Int, tag: String) =
      s"---\nbody: shard profile $tag\nmetadata: {g: g$g}\n"
    // a handful of segments, nGroups distinct groups
    val perSeg = math.max(1, nGroups / 4)
    (0 until nGroups).grouped(perSeg).foreach(batch =>
      engine.save(batch.map(g => docYaml(g, s"doc $g")).mkString))
    val key = "metadata['g']"
    val ms = Seq("chars" -> "length(body)")
    def view() = engine.viewState("shv", key, ms)
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def publish() = engine.lastViewPublish.getOrElse((-1, -1))
    // viewState() runs the locked refresh EAGERLY (merge + write +
    // meta swing) and returns a lazy served frame — timing the call
    // alone isolates the REFRESH cost from the O(groups) full-state
    // read a consumer may or may not do afterwards
    val tBuild = timed { view(); () }
    val pBuild = publish()
    val tReadAll = timed { view().collect() } // linear-by-design reference
    // ONE-doc append into one existing group
    engine.save(docYaml(7, "append probe"))
    val tAppend = timed { view(); () }
    val pAppend = publish()
    val mAppend = engine.lastViewRefresh.map(_._1).getOrElse("none")
    // ONE-row patch (update moves a row's measure)
    val feed = Seq((3L, "updated", "patched longer body for the row",
        Map("g" -> "sg3")))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    engine.applyChanges(feed)
    val tPatch = timed { view(); () }
    val pPatch = publish()
    val mPatch = engine.lastViewRefresh.map(_._1).getOrElse("none")
    require(mAppend == "incremental" && mPatch == "incremental",
      s"shardview expected incremental refreshes, got ($mAppend, $mPatch)")
    require(pAppend._2 > 0 && pPatch._2 > 0,
      s"shardview expected carried shards, got ($pAppend, $pPatch)")
    println(f"[shardview] groups=$nGroups%6d " +
      f"build=$tBuild%.3fs(shards=${pBuild._1}) " +
      f"readAll=$tReadAll%.3fs " +
      f"append1=$tAppend%.3fs(wrote=${pAppend._1} carried=${pAppend._2}) " +
      f"patch1=$tPatch%.3fs(wrote=${pPatch._1} carried=${pPatch._2}) " +
      "all-incremental")
    engine.clean()
    ()
  }

  /** The view-shard COMPACTION claim (round 17 late): churn-then-shrink
    * leaves a state fragmented (shards split on growth, never re-widen
    * on shrink), `viewFragmentation` prices it off the manifest with NO
    * job, and `compactView` restores the uniform grid in one O(state)
    * rewrite. Builds `nGroups` one-doc groups, retracts 15/16 of them
    * in one patch window (survivors stay spread over the full fine
    * grid), then reports: fragmentation before/after, shard count
    * before/after, the no-job price of the fragmentation read, the
    * compact rewrite cost (vs the build as the O(groups) reference),
    * and the full-state read before/after (many tiny dirs vs few).
    * Run via `runMain graft.MaintProfile compactview [groupsList]`. */
  private[graft] def runCompactView(spark: SparkSession,
      nGroups: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_cpv")
    val engine = new graft.memo.MemoEngine(spark,
      base.resolve("db").toString, maxSegments = 1000000,
      viewShardRows = 512)
    def docYaml(g: Int, tag: String) =
      s"---\nbody: compact profile $tag\nmetadata: {g: g$g}\n"
    val perSeg = math.max(1, nGroups / 4)
    (0 until nGroups).grouped(perSeg).foreach(batch =>
      engine.save(batch.map(g => docYaml(g, s"doc $g")).mkString))
    val key = "metadata['g']"
    val ms = Seq("chars" -> "length(body)")
    def view() = engine.viewState("cpv", key, ms)
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val tBuild = timed { view(); () }
    val shards0 = engine.lastViewPublish.map(_._1).getOrElse(-1)
    // churn-then-shrink in two INCREMENTAL patch windows (a patch
    // covering every segment would be an unprovable rewrite — the view
    // would REBUILD, re-gridding uniformly and erasing the
    // fragmentation this leg measures): first the three leading
    // segments' groups, then all but every 16th of the last segment
    def remove(ids: Seq[Long]): Unit = {
      engine.applyChanges(ids
        .map(i => (i, "removed", "", Map.empty[String, String]))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
      view()
      val m = engine.lastViewRefresh.map(_._1).getOrElse("none")
      require(m.startsWith("incremental"),
        s"compactview shrink expected incremental, got $m")
    }
    val lastSeg = (3 * perSeg).toLong
    val tShrink = timed {
      remove(0L until lastSeg)
      remove((lastSeg until nGroups.toLong).filter(_ % 16 != 0))
    }
    var frag0 = 0.0
    val tFrag = timed { frag0 = engine.viewFragmentation("cpv").get }
    val db = base.resolve("db").toString
    val shardsFrag = readManifestSize(spark, db, "cpv")
    val tReadFrag = timed { view().collect() }
    val tCompact = timed {
      require(engine.compactView("cpv"), "compactview expected a rewrite")
    }
    val frag1 = engine.viewFragmentation("cpv").get
    val shards1 = readManifestSize(spark, db, "cpv")
    val tReadCompact = timed { view().collect() }
    require(frag0 > graft.memo.MemoEngine.DefaultViewCompactFrag &&
      frag1 <= 1.0 + 1e-9,
      s"compactview expected frag past-threshold -> 1.0, got $frag0 -> $frag1")
    println(f"[compactview] groups=$nGroups%6d build=$tBuild%.3fs" +
      f"(shards=$shards0) shrink=$tShrink%.3fs " +
      f"frag=$frag0%.1f->(read $tFrag%.4fs, no job) " +
      f"compact=$tCompact%.3fs(shards $shardsFrag->$shards1) " +
      f"readAll=$tReadFrag%.3fs->$tReadCompact%.3fs frag1=$frag1%.1f")
    engine.clean()
    ()
  }

  /** Spark-JOB count of the forced-distributed [[graft.ops.Dedup
    * .components]] arm (r19): convergence now rides each pointer-jump
    * round's own materialization (an accumulator counts moved labels
    * while the round's checkpoint computes), so a round is ONE action
    * where it used to be two (materialize + a separate join/count
    * probe). This leg runs a path graph (diameter = nodes, rounds ≈
    * log2) through `driverFoldEdges = 0` with a job listener and prints
    * jobs alongside the round count — the "job count per round measured
    * down" record (BENCH_NOTES r19). Run via
    * `runMain graft.MaintProfile ccjobs [nodesList]`. */
  private[graft] def runCcJobs(spark: SparkSession, nNodes: Int): Unit = {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    try {
      val edges = (0 until nNodes - 1).map(i => (i.toLong, i + 1L))
        .toDF("a", "b")
      val t = timed {
        val n = graft.ops.Dedup.components(edges, "a", "b",
          maxIters = 25, driverFoldEdges = 0).count()
        require(n == nNodes.toLong, s"ccjobs labeling incomplete: $n")
      }
      Thread.sleep(500) // listener bus drains asynchronously
      val rounds = math.ceil(math.log(nNodes.toDouble) / math.log(2)).toInt
      println(f"[ccjobs] nodes=$nNodes%6d path-diameter rounds<=~$rounds " +
        f"spark_jobs=${jobs.get}%3d wall=$t%.2fs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The dup-group fold cost-class claim (round 17 late): an ingest
    * batch folds into the maintained labeling with O(batch) shuffle
    * work plus NARROW corpus-scale scans (the 64-longs/doc signature
    * artifact as the bucket join's build side, the label table twice) —
    * so a fixed 30-doc batch's fold should grow far slower than the
    * corpus across a 10× (narrow scan growth only), while the rebuild
    * reference grows with the corpus-wide iterative labeling. Corpus:
    * `nGroups` identical-text triplets (3·nGroups docs), batch: 10 more
    * triplets. Run via `runMain graft.MaintProfile dupfold
    * [groupsList]` (default "3000,30000" → 9k / 90k docs). */
  private[graft] def runDupFold(spark: SparkSession, nGroups: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_dup")
    val engine = new graft.memo.MemoEngine(spark,
      base.resolve("db").toString, maxSegments = 1000000)
    def docYaml(g: Int, copy: Int) =
      s"---\nbody: dupfold$g alpha$g beta$g gamma$g delta$g\n"
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val perSeg = math.max(1, (3 * nGroups) / 4)
    (0 until 3 * nGroups).grouped(perSeg).foreach(batch =>
      engine.save(batch.map(i => docYaml(i / 3, i % 3)).mkString))
    val tBuild = timed { engine.dupGroups().collect(); () }
    require(engine.lastDupMode.contains("rebuild"),
      s"dupfold expected a rebuild, got ${engine.lastDupMode}")
    // fixed-size batch: 10 new triplets (30 docs)
    engine.save((0 until 30).map(i =>
      docYaml(nGroups + i / 3, i % 3)).mkString)
    val tFold = timed { engine.dupGroups().collect(); () }
    require(engine.lastDupMode.contains("append"),
      s"dupfold expected the fold arm, got ${engine.lastDupMode}")
    val n = engine.dupGroups().count()
    require(n == 3L * (nGroups + 10),
      s"dupfold labeling incomplete: $n of ${3 * (nGroups + 10)}")
    // fixed-size RETRACT: delete one member from each of 10 groups via
    // a patch (a chain REWRITE — pre-r18 this arm paid the corpus-wide
    // components() rebuild; the retract fold relabels only the touched
    // components, so this leg too must stay ~flat across the 10×)
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // FIRST delete patch walks under the PRODUCTION route: below the
    // floor it pays the rebuild it priced cheaper, above it the fold —
    // this is the number a real store pays ("retract leg ≤ rebuild
    // reference" is the r18 verdict's done-bar, satisfied by routing)
    engine.applyChanges((0 until 10).map(g =>
        (3L * g, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val tRouted = timed { engine.dupGroups().collect(); () }
    val routedMode = engine.lastDupMode.getOrElse("?")
    val n2 = engine.dupGroups().count()
    require(n2 == 3L * (nGroups + 10) - 10,
      s"dupfold post-patch labeling incomplete: $n2")
    // SECOND delete patch with the route floor at 0: the forced fold —
    // the calibration row (fold cost at this scale, whatever the route
    // would have picked)
    engine.retractRouteMinRows = 0
    engine.applyChanges((0 until 10).map(g =>
        (3L * g + 1, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(1L)))
    val tRetract = timed { engine.dupGroups().collect(); () }
    require(engine.lastDupMode.contains("retract"),
      s"dupfold expected the forced retract arm, got ${engine.lastDupMode}")
    // the 10 doubly-hit groups are singletons now (one survivor each),
    // so they leave the labeling entirely (groups are size ≥ 2)
    val n3 = engine.dupGroups().count()
    require(n3 == 3L * (nGroups + 10) - 30,
      s"dupfold post-retract labeling incomplete: $n3")
    println(f"[dupfold] groups=$nGroups%6d docs=${3 * nGroups}%6d " +
      f"rebuild=$tBuild%.3fs fold30=$tFold%.3fs " +
      f"patch10_routed=$tRouted%.3fs(mode=$routedMode) " +
      f"retract10_forced=$tRetract%.3fs")
    engine.clean()
    ()
  }

  private def readManifestSize(spark: SparkSession, db: String,
      name: String): Int = {
    val dir = java.nio.file.Paths.get(db).resolve(s"_view_$name")
    val meta = graft.ops.ArtifactMeta.read(spark,
      dir.toString, "_view_meta").get.split('|')(2)
    java.nio.file.Files.readAllLines(dir.resolve(meta).resolve("_shards"))
      .size - 1
  }

  /** The state-heaviest VIEW combination at 10× history (BENCH_NOTES
    * r16): a WHERE-scoped COUNT DISTINCT view — dictionary merges,
    * predicate-boundary retract+add pairs, and stats-pruned delta scans
    * composing in one refresh — over a chain grown 10×. Times the first
    * post-commit refresh after (a) an append the WHERE matches, (b) an
    * append it provably prunes, and (c) a patch window carrying a
    * boundary crossing in EACH direction plus a covered retraction. The
    * O(delta) claim: every leg flat across the 1× vs 10× chains, every
    * mode `incremental` (never rescan/rebuild).
    * Run via `runMain graft.MaintProfile wdview [segsList] [docsPerSeg]`. */
  private[graft] def runWdView(spark: SparkSession, nSegs: Int,
      docsPerSeg: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("graft_wdv")
    val engine = new graft.memo.MemoEngine(spark,
      base.resolve("db").toString, maxSegments = 1000000)
    def docYaml(part: String, g: Int, src: Int, tag: String) =
      s"---\nbody: wd corpus $tag\n" +
        s"metadata: {part: $part, g: g$g, src: s$src}\n"
    def batchYaml(seg: Int) = (0 until docsPerSeg).map { d =>
      val i = seg * docsPerSeg + d
      docYaml(s"p${seg % 8}", i % 4, i % 24, s"segment $seg doc $d")
    }.mkString
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val key = "metadata['g']"
    val ms = Seq("srcs" -> "metadata['src']")
    val aggs = Map("srcs" -> "count_distinct")
    def view() = engine.viewState("wd", key, ms, aggs,
      where = Some("part: p3"), distinctCap = Some(64))
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def mode() = engine.lastViewRefresh.map(_._1).getOrElse("none")
    val tBuild = timed { view().collect() }
    val mBuild = mode()
    // (a) appended segment the WHERE matches: delta rows contribute
    engine.save((0 until docsPerSeg).map(d =>
      docYaml("p3", d % 4, d % 24, s"match append doc $d")).mkString)
    val tMatch = timed { view().collect() }
    val mMatch = mode()
    // (b) appended segment the WHERE prunes: the refresh must not even
    // open its files (stats-surviving delta scan)
    engine.save((0 until docsPerSeg).map(d =>
      docYaml("p0", d % 4, d % 24, s"nonmatch append doc $d")).mkString)
    val tNon = timed { view().collect() }
    val mNon = mode()
    // (c) patch: one row leaves p3 (retract), one enters (add), one p3
    // row is removed (covered dictionary retraction) — the three
    // maintenance arms in one window
    def idsOf(part: String, n: Int): Seq[Long] = engine.records
      .filter(graft.filter.FilterAlgebra.compile(s"part: $part",
        col("metadata")))
      .orderBy(col("id")).limit(n).collect().map(_.getLong(0)).toSeq
    val p3 = idsOf("p3", 2)
    val p0 = idsOf("p0", 1)
    val feed = Seq(
      (p3(0), "updated", "moved out of scope",
        Map("part" -> "sp0", "g" -> "sg0", "src" -> "ss0")),
      (p0(0), "updated", "moved into scope",
        Map("part" -> "sp3", "g" -> "sg1", "src" -> "ss1")),
      (p3(1), "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    engine.applyChanges(feed)
    val tPatch = timed { view().collect() }
    val mPatch = mode()
    require(Seq(mMatch, mNon, mPatch).forall(_ == "incremental"),
      s"wdview expected incremental refreshes, got " +
        s"($mMatch, $mNon, $mPatch)")
    println(f"[wdview] segs=$nSegs%4d docs/seg=$docsPerSeg " +
      f"build=$tBuild%.3fs($mBuild) matchAppend=$tMatch%.3fs " +
      f"pruneAppend=$tNon%.3fs patch=$tPatch%.3fs all-incremental")
    engine.clean()
    ()
  }

  private def run(spark: SparkSession, nSegs: Int, docsPerSeg: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_maint")
    // cap far above nSegs: the measurement wants a LONG committed chain,
    // not the folded one maxSegments maintenance would produce
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString,
      maxSegments = 1000000)
    def batchYaml(seg: Int) = (0 until docsPerSeg).map(d =>
      s"---\nbody: maintenance corpus segment $seg doc $d keeps writing " +
        s"about concern${(seg * docsPerSeg + d) % 97} in " +
        s"style${d % 11}\n").mkString
    val t0 = System.nanoTime()
    (0 until nSegs).foreach(s => engine.save(batchYaml(s)))
    val buildSec = (System.nanoTime() - t0) / 1e9
    import spark.implicits._
    def probeBatch(tag: String) = Seq(
      (9000L, s"an admission probe $tag with its own fresh vocabulary"),
      (9001L, s"another admission probe $tag nothing like the corpus"))
      .toDF("id", "body")
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    def touchAll(tag: String): Map[String, Double] = {
      // each family's ensure* fires inside its own serving call
      scala.collection.immutable.ListMap(
        "lexical" -> timed(
          engine.hybridRecall("maintenance corpus concern1", k = 3).collect()),
        "ivf" -> timed(engine.annRecall("maintenance corpus", k = 3).collect()),
        "signatures" -> timed { engine.admitNew(probeBatch(tag)).collect(); () })
    }
    touchAll("warm") // initial builds — every family pays its full build here
    // three one-segment catch-up cycles per family, report the min (the
    // number a steady-state ingest pipeline pays per commit)
    val cycles = (0 until 3).map { c =>
      engine.save(batchYaml(nSegs + c))
      touchAll(s"c$c")
    }
    val warm = touchAll("idle") // watermark current: serve-only floor
    val catchUp = cycles.head.keys.map(k =>
      k -> cycles.map(_(k)).min).toMap
    // time-travel leg (before reindex/vacuum mutate or reclaim history):
    // a ONE-segment changefeed window must be flat vs chain length (the
    // manifest fast path reads only the delta dir); the full-history feed
    // and restore are O(deltas)/O(corpus) linear-by-design references
    val cur = engine.versions.max
    val tFeed1 = timed(engine.changesBetween(cur - 1, cur).count())
    val tFeedAll = timed(engine.changesBetween(0, cur).count())
    // shallow clone must be FLAT vs history AND corpus (metadata-only);
    // CDC emit catch-up is per-commit jobs: O(chain) total, so the
    // per-commit quotient is the flat-by-design number to watch
    var branch: graft.memo.MemoEngine = null
    val tClone = timed {
      branch = engine.cloneTo(base.resolve("branch").toString)
    }
    branch.clean()
    // bulk CDC backfill: the same unemitted chain, emitted at pool sizes
    // 1/4/8 into fresh logs — distinct-version emissions are independent
    // (staged in parallel, published in order), so catch-up should drop
    // roughly with the pool while per-commit emit1 stays flat
    val cdcLog = base.resolve("cdc").toString
    val tEmitSeq = timed(
      engine.emitChanges(base.resolve("cdc_p1").toString, parallelism = 1))
    val tEmitAll = timed(engine.emitChanges(cdcLog)) // default pool (4)
    val tEmitP8 = timed(
      engine.emitChanges(base.resolve("cdc_p8").toString, parallelism = 8))
    engine.save(batchYaml(nSegs + 100))
    val tEmit1 = timed(engine.emitChanges(cdcLog))
    // segment-pruned CDC merge: an update batch confined to ONE segment's
    // id range must cost O(touched segment) — FLAT vs chain length (the
    // pre-patch full rewrite paid O(corpus) here). The spread batch (one
    // id per original segment) forces the full-rewrite fallback and is
    // the linear-by-design reference alongside it.
    def updFeed(ids: Seq[Long], tag: String) = {
      import org.apache.spark.sql.functions.{lit, map => fmap}
      ids.map(i => (i, "updated", s"patched $tag body for row $i"))
        .toDF("id", "change", "body")
        .withColumn("metadata", fmap(lit("patched"), lit(tag)))
        .withColumn("commit_version", lit(0L))
    }
    val tPatch = timed(engine.applyChanges(updFeed(0L until 5L, "narrow")))
    // incremental materialized views (AFTER the narrow-patch leg so that
    // leg keeps its round-over-round comparability, BEFORE the spread
    // leg whose full-rewrite fallback folds the chain): the first materialization is the
    // O(corpus) linear reference; an append catch-up and a patch-commit
    // retraction must be FLAT vs chain+corpus (delta segments / feed
    // only); for the MIN/MAX class, a retraction that misses the group's
    // champion stays flat while removing the champion uncovered pays the
    // group-scoped rescan — corpus-scan-bounded, the honest linear
    // reference within the otherwise-flat family
    def rmFeed(ids: Seq[Long]) = {
      import org.apache.spark.sql.functions.lit
      import org.apache.spark.sql.types.{MapType, StringType}
      ids.map(i => (i, "removed", ""))
        .toDF("id", "change", "body")
        .withColumn("metadata",
          lit(null).cast(MapType(StringType, StringType)))
        .withColumn("commit_version", lit(0L))
    }
    val vSum = Seq("chars" -> "length(body)")
    def refreshSumView() =
      engine.viewState("maintsum", "CAST(id % 11 AS STRING)", vSum).collect()
    val tViewBuild = timed(refreshSumView())
    engine.save(batchYaml(nSegs + 200))
    val tViewAppend = timed(refreshSumView())
    engine.applyChanges(updFeed(10L until 15L, "vpatch"))
    val tViewPatch = timed(refreshSumView())
    val vMax = Seq("hi" -> "id")
    val vMaxAggs = Map("hi" -> "max")
    def refreshMaxView() =
      engine.viewState("maintmm", "CAST(id % 11 AS STRING)", vMax, vMaxAggs)
        .collect()
    refreshMaxView() // warm build
    val championId = engine.records
      .agg(org.apache.spark.sql.functions.max("id")).collect()(0).getLong(0)
    engine.applyChanges(rmFeed(Seq(20L))) // group 9's champion is far above
    val tViewCover = timed(refreshMaxView())
    // removing a group's CHAMPION is absorbed by the stored reserve
    // (runner-up already known) — must stay flat, feed-only
    engine.applyChanges(rmFeed(Seq(championId)))
    val tViewChamp = timed(refreshMaxView())
    // retracting a group's top reserve-depth+1 values in one batch
    // EXHAUSTS the reserve — the one case that pays the group-scoped
    // corpus rescan, the honest linear reference within the family
    val exhaustIds = (1 to 9).map(j => championId - 11L * j)
    engine.applyChanges(rmFeed(exhaustIds))
    val tViewRescan = timed(refreshMaxView())
    val tSpread = timed(engine.applyChanges(
      updFeed((0 until nSegs).map(_.toLong * docsPerSeg), "spread")))
    val tRestore = timed(engine.restore(cur - 1))
    val tReindex = { val t = System.nanoTime(); engine.reindex()
      (System.nanoTime() - t) / 1e9 }
    val tVacuum = { val t = System.nanoTime(); val n = engine.vacuum(0)
      ((System.nanoTime() - t) / 1e9, n) }
    println(f"[maint] segs=$nSegs%4d docs=${engine.records.count()}%6d " +
      f"build=${buildSec}%7.1fs " +
      catchUp.toSeq.sortBy(_._1).map { case (k, v) =>
        f"$k=${v}%6.2fs(warm ${warm(k)}%5.2fs)" }.mkString(" ") +
      f" feed1=${tFeed1}%5.2fs feedAll=${tFeedAll}%5.2fs " +
      f"clone=${tClone}%5.2fs emitAll p1=${tEmitSeq}%6.2fs " +
      f"p4=${tEmitAll}%6.2fs p8=${tEmitP8}%6.2fs " +
      f"emit1=${tEmit1}%5.2fs patch=${tPatch}%5.2fs " +
      f"spread=${tSpread}%5.2fs " +
      f"viewBuild=${tViewBuild}%5.2fs viewAppend1=${tViewAppend}%5.2fs " +
      f"viewPatch=${tViewPatch}%5.2fs viewCover=${tViewCover}%5.2fs " +
      f"viewChamp=${tViewChamp}%5.2fs " +
      f"viewRescan=${tViewRescan}%5.2fs restore=${tRestore}%5.2fs" +
      f" reindex=${tReindex}%6.2fs vacuum=${tVacuum._1}%5.2fs" +
      f"(${tVacuum._2}%d dirs)")
    engine.clean()
    ()
  }
}
