package graft.memo

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkTestBase

/** Multi-writer optimistic-concurrency contract of the versioned store
  * (MemoEngine scaladoc "CONCURRENCY CONTRACT"): a commit publishes only
  * if CURRENT still points at the version the mutation derived its state
  * from; losers retry from fresh state. The reference CLI is single-
  * process (one YAML/pickle pair per store) so this surface is engine-
  * only — at scale it is what lets a streaming ingest and a batch
  * compaction share one store without a lost write.
  *
  * Lives in package graft.memo to reach the `beforePublishHook` test seam,
  * which makes the race window deterministic instead of timing-dependent. */
class MemoConcurrencySpec extends SparkTestBase {

  private def freshStore(): String =
    Files.createTempDirectory("memo_occ").toString + "/db"

  test("a commit that loses the race is detected, retried, loses nothing") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    e1.save("---\nbody: base\n") // v0
    // inject a foreign commit into e1's race window, exactly once
    var injections = 0
    e1.beforePublishHook = () => if (injections == 0) {
      injections += 1
      e2.save("---\nbody: interloper\n")
    }
    e1.save("---\nbody: racer\n")
    e1.beforePublishHook = () => ()
    assert(injections == 1)
    val rows = e1.records.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.map(_._2).toSet == Set("base", "interloper", "racer"),
      s"a write was lost: ${rows.toSeq}")
    // the retry re-minted the loser's id ABOVE the winner's — dense, no dup
    assert(rows.map(_._1).sorted.toSeq == Seq(0L, 1L, 2L),
      s"ids not dense/distinct after the retry: ${rows.toSeq}")
    // the loser's abandoned attempt left no staging corpse behind
    val staging = Paths.get(db, ".staging")
    assert(!Files.list(staging).iterator().hasNext,
      "conflict-cleaned staging should be empty")
    e1.clean()
  }

  test("exhausted retries surface ConcurrentCommitException, store intact") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    e1.save("---\nbody: base\n")
    // every attempt loses: a foreign commit lands in every race window
    var foreign = 0
    e1.beforePublishHook = () => { foreign += 1; e2.save(s"---\nbody: f$foreign\n") }
    val e = intercept[MemoEngine.ConcurrentCommitException] {
      e1.save("---\nbody: doomed\n")
    }
    e1.beforePublishHook = () => ()
    assert(e.getMessage.contains("lost the race"))
    assert(foreign == MemoEngine.DefaultCommitAttempts)
    val bodies = e1.records.collect().map(_.getString(1)).toSet
    assert(!bodies.contains("doomed"), "a failed commit leaked data")
    assert(bodies == (1 to foreign).map(i => s"f$i").toSet + "base")
    e1.clean()
  }

  test("interleaved appenders on one store never lose a write") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    // determinism bound, not a tuning knob: one save can lose at most as
    // many races as the OTHER writer commits in total, so perWriter <
    // DefaultCommitAttempts guarantees no attempt budget can exhaust
    // under ANY thread schedule — this test cannot flake by timing
    val perWriter = 4
    assert(perWriter < MemoEngine.DefaultCommitAttempts)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // no seed commit: the writers also race the FIRST commit (both see an
      // absent store; exactly one may create v0, the other must retry into
      // an append)
      val writers = Seq(("a", e1), ("b", e2)).map { case (tag, e) =>
        Future { (0 until perWriter).foreach(i => e.save(s"---\nbody: $tag$i\n")) }
      }
      Await.result(Future.sequence(writers), 120.seconds)
      val rows = e1.records.collect().map(r => (r.getLong(0), r.getString(1)))
      val expected = (for (t <- Seq("a", "b"); i <- 0 until perWriter)
        yield s"$t$i").toSet
      assert(rows.map(_._2).toSet == expected,
        s"lost write(s): missing ${expected -- rows.map(_._2)}")
      assert(rows.map(_._1).sorted.toSeq == (0L until 2L * perWriter).toSeq,
        s"ids not dense/distinct: ${rows.map(_._1).sorted.toSeq}")
      e1.clean()
    } finally pool.shutdown()
  }

  test("clusterBy racing an appender: no lost write, layout still prunes") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    // same determinism bound as the appender race: each side can lose at
    // most as many races as the OTHER commits in total, and both totals
    // sit below the attempt budget — no schedule can exhaust it
    val appends = 4
    val clusters = 3
    assert(appends < MemoEngine.DefaultCommitAttempts &&
      clusters < MemoEngine.DefaultCommitAttempts)
    e1.save((0 until 8).map(i =>
      s"---\nbody: seed $i\nmetadata: {part: p${i % 4}}\n").mkString)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val appender = Future {
        (0 until appends).foreach(i =>
          e1.save(s"---\nbody: late $i\nmetadata: {part: p${i % 4}}\n"))
      }
      val clusterer = Future {
        (0 until clusters).foreach(_ => e2.clusterBy("part", nClusters = 4))
      }
      Await.result(Future.sequence(Seq(appender, clusterer)), 180.seconds)
      val bodies = e1.records.collect().map(_.getString(1)).toSet
      val expected = (0 until 8).map(i => s"seed $i").toSet ++
        (0 until appends).map(i => s"late $i")
      assert(bodies == expected,
        s"lost write(s): missing ${expected -- bodies}")
      // whatever interleaving won, a final cluster pass leaves a layout
      // the stats provably prune
      e2.clusterBy("part", nClusters = 4)
      val (kept, total) = e1.segmentPrune("part: p2")
      assert(kept < total, s"clustered layout should prune: ($kept, $total)")
      assert(e1.analyzeCount("part: p2") == 3) // 2 seeds + 1 late
      e1.clean()
    } finally pool.shutdown()
  }

  test("filtered ANN racing an appender: sound results, exact once quiet") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    def hotOf(i: Int) = if (i % 5 == 0) "h1" else "h0"
    e1.save((0 until 40).map(i =>
      s"---\nbody: race note $i topic${i % 4}\nmetadata: {hot: ${hotOf(i)}}\n")
      .mkString)
    val appends = 6
    val everHot = (0 until 40 + appends).filter(_ % 5 == 0).map(_.toLong).toSet
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // the known mid-scan churn transients (the IVF/PQ churn allow-list):
    // a segment listed before a concurrent commit promotes can vanish
    // under the scan on Linux
    def transient(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("") + " " +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      m.contains("NoSuchFile") || m.contains("FILE_NOT_EXIST") ||
        m.contains("does not exist")
    }
    try {
      val appender = Future {
        (40 until 40 + appends).foreach(i =>
          e1.save(s"---\nbody: race note $i topic${i % 4}\n" +
            s"metadata: {hot: ${hotOf(i)}}\n"))
      }
      val reader = Future {
        var reads = 0
        while (!appender.isCompleted && reads < 40) {
          try {
            // every returned id must be a filter survivor of SOME
            // committed version — the append-only chain never un-hots
            // an id, so the union bound is exact
            val ids = e2.annRecall("topic1 race", k = 20, nprobe = 2,
              filterExpr = Some("{hot: h1}"))
              .collect().map(_.getLong(0)).toSet
            assert(ids.subsetOf(everHot),
              s"filtered ANN leaked non-survivors: ${ids -- everHot}")
          } catch { case e: Throwable if transient(e) => () }
          reads += 1
        }
        reads
      }
      Await.result(Future.sequence(Seq(appender, reader)), 180.seconds)
      // quiet store: the filtered serving path is EXACT-FILL and agrees
      // with filtered brute force, ids and scores
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ann = rows(e1.annRecall("topic1 race", k = 20, nprobe = 1,
        filterExpr = Some("{hot: h1}")))
      val exact = rows(e1.recall("topic1 race", k = 20,
        filterExpr = Some("{hot: h1}")))
      assert(ann == exact, s"post-churn filtered ANN diverged: $ann vs $exact")
      assert(ann.map(_._1).toSet == everHot,
        s"post-churn fill incomplete: ${ann.map(_._1).toSet} vs $everHot")
      e1.clean()
    } finally pool.shutdown()
  }

  test("batch fill ladders racing an appender: every rung's results are " +
      "survivors, exact fill once quiet") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    def hotOf(i: Int) = if (i % 5 == 0) "h1" else "h0"
    e1.save((0 until 40).map(i =>
      s"---\nbody: race note $i topic${i % 4}\nmetadata: {hot: ${hotOf(i)}}\n")
      .mkString)
    val appends = 6
    val everHot = (0 until 40 + appends).filter(_ % 5 == 0).map(_.toLong).toSet
    import spark.implicits._
    val queries = Seq((0L, "topic1 race"), (1L, "topic3 note"))
      .toDF("qid", "qtext")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def transient(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("") + " " +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      m.contains("NoSuchFile") || m.contains("FILE_NOT_EXIST") ||
        m.contains("does not exist")
    }
    try {
      val appender = Future {
        (40 until 40 + appends).foreach(i =>
          e1.save(s"---\nbody: race note $i topic${i % 4}\n" +
            s"metadata: {hot: ${hotOf(i)}}\n"))
      }
      val reader = Future {
        var reads = 0
        while (!appender.isCompleted && reads < 20) {
          try {
            // a MULTI-RUNG read under churn: every id any rung returns
            // must be a filter survivor of SOME committed version —
            // alternate the IVF and PQ ladders
            val df =
              if (reads % 2 == 0)
                e2.annRecallBatch(queries, "qid", "qtext", k = 20,
                  nprobe = 1, filterExpr = Some("{hot: h1}"))
              else
                e2.pqRecallBatch(queries, "qid", "qtext", k = 20,
                  nprobe = 1, filterExpr = Some("{hot: h1}"))
            val ids = df.collect().map(_.getLong(1)).toSet
            assert(ids.subsetOf(everHot),
              s"batch ladder leaked non-survivors: ${ids -- everHot}")
          } catch { case e: Throwable if transient(e) => () }
          reads += 1
        }
        reads
      }
      Await.result(Future.sequence(Seq(appender, reader)), 180.seconds)
      // quiet store: the widened batch equals the single-query widening
      // path per query (exact fill, union bound complete)
      val batch = e1.annRecallBatch(queries, "qid", "qtext", k = 20,
          nprobe = 1, filterExpr = Some("{hot: h1}"))
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      queries.collect().foreach { r =>
        val single = e1.annRecall(r.getString(1), k = 20, nprobe = 1,
            filterExpr = Some("{hot: h1}"))
          .collect().map(x => (x.getLong(0), x.getDouble(1))).toSet
        assert(batch(r.getLong(0)) == single,
          s"post-churn batch diverged for '${r.getString(1)}'")
        assert(batch(r.getLong(0)).map(_._1) == everHot,
          s"post-churn batch fill incomplete for '${r.getString(1)}'")
      }
      e1.clean()
    } finally pool.shutdown()
  }

  test("hybridServe racing an appender: fused ids are survivors under " +
      "churn, all three routes equal once quiet") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    def hotOf(i: Int) = if (i % 5 == 0) "h1" else "h0"
    e1.save((0 until 40).map(i =>
      s"---\nbody: race note $i topic${i % 4}\nmetadata: {hot: ${hotOf(i)}}\n")
      .mkString)
    val appends = 6
    val everHot = (0 until 40 + appends).filter(_ % 5 == 0).map(_.toLong).toSet
    import spark.implicits._
    val queries = Seq((0L, "topic1 race"), (1L, "topic3 note"))
      .toDF("qid", "qtext")
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def transient(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("") + " " +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      m.contains("NoSuchFile") || m.contains("FILE_NOT_EXIST") ||
        m.contains("does not exist")
    }
    try {
      val appender = Future {
        (40 until 40 + appends).foreach(i =>
          e1.save(s"---\nbody: race note $i topic${i % 4}\n" +
            s"metadata: {hot: ${hotOf(i)}}\n"))
      }
      val reader = Future {
        var reads = 0
        while (!appender.isCompleted && reads < 20) {
          try {
            // alternate the single and batch hybrid front doors, forcing
            // the probe routes (bruteRows=0): BOTH legs ride maintained
            // artifacts mid-churn, and every fused id must be a filter
            // survivor of SOME committed version
            val ids =
              if (reads % 2 == 0)
                e2.hybridServe("topic1 race", k = 20,
                    filterExpr = Some("{hot: h1}"), bruteRows = 0L)
                  .collect().map(_.getLong(0)).toSet
              else
                e2.hybridServeBatch(queries, "qid", "qtext", k = 20,
                    filterExpr = Some("{hot: h1}"), bruteRows = 0L)
                  .collect().map(_.getLong(1)).toSet
            assert(ids.subsetOf(everHot),
              s"hybrid serve leaked non-survivors: ${ids -- everHot}")
          } catch { case e: Throwable if transient(e) => () }
          reads += 1
        }
        reads
      }
      Await.result(Future.sequence(Seq(appender, reader)), 180.seconds)
      // quiet store: the q111 argument post-churn — at full probe every
      // route returns the identical fused ranking
      def route(bruteRows: Long, pqBytes: Long) =
        e1.hybridServe("topic1 race", k = 10,
            filterExpr = Some("{hot: h1}"), perList = 50,
            nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
            pqBytes = pqBytes)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val viaBrute = route(4096L, Long.MaxValue)
      val viaAnn = route(0L, Long.MaxValue)
      val viaPq = route(0L, 0L)
      assert(viaBrute.nonEmpty && viaAnn == viaBrute && viaPq == viaBrute,
        s"post-churn routes diverged: $viaBrute vs $viaAnn vs $viaPq")
      e1.clean()
    } finally pool.shutdown()
  }

  test("retrainIvf racing an appender: no double-counted rows — " +
      "post-quiesce occupancy equals the corpus and full-probe serving " +
      "is exact") {
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    // diverse seed trains the quantizer; drifted appends raise the skew
    // so the racing retrain genuinely fires at least once
    e1.save((0 until 48).map(i =>
      s"---\nbody: seed topic$i theme${i % 7} subject${i % 11} " +
        s"facet$i\n").mkString)
    e1.annRecall("seed topic1 theme1", k = 3).collect() // build
    (0 until 2).foreach(b => e1.save((0 until 30).map(i =>
      s"---\nbody: drifted narrow cluster phrase nuance$b$i\n").mkString))
    e1.annRecall("seed topic1 theme1", k = 3).collect() // catch-up
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def transient(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("") + " " +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      m.contains("NoSuchFile") || m.contains("FILE_NOT_EXIST") ||
        m.contains("does not exist")
    }
    try {
      val appender = Future {
        (0 until 6).foreach(i =>
          e1.save(s"---\nbody: racing append doc $i topic${i % 4}\n"))
      }
      val maintainer = Future {
        var fired = 0
        var rounds = 0
        while (!appender.isCompleted && rounds < 20) {
          try { if (e2.retrainIvf(maxSkew = 1.5)) fired += 1 }
          catch { case e: Throwable if transient(e) => () }
          rounds += 1
        }
        // one quiet retrain attempt after the churn so at least one
        // fires even if every in-flight round saw a transient
        try { if (e2.retrainIvf(maxSkew = 1.5)) fired += 1 }
        catch { case e: Throwable if transient(e) => () }
        fired
      }
      val fired = Await.result(
        appender.flatMap(_ => maintainer), 300.seconds)
      assert(fired >= 1, "the racing retrain never fired — vacuous")
      // quiesce: bring the artifact current, then the DOUBLE-COUNT
      // detector — the retrain rebuilt from the artifact's recorded
      // watermark under the lock, so no appended row may be in the
      // index twice (or missing): stored occupancy == live corpus
      e1.annRecall("racing append doc", k = 3).collect()
      val ivfPath = Paths.get(db).resolve("_ann").toString
      val occ = graft.ops.IvfIndex.readOccupancy(spark, ivfPath).get
      assert(occ.sum == e1.index.count(),
        s"occupancy ${occ.sum} != corpus ${e1.index.count()} — a " +
          "retrain/append race double-counted or dropped rows")
      // and full-probe serving is the exact ranking
      val nlist = graft.ops.IvfIndex.readCentroids(spark, ivfPath)
        .get.length
      val viaAnn = e1.annRecall("racing append doc topic1", k = 6,
        nprobe = nlist).collect().map(_.getLong(0)).toSet
      val viaBrute = e1.recall("racing append doc topic1", k = 6)
        .collect().map(_.getLong(0)).toSet
      assert(viaAnn == viaBrute,
        s"post-race full-probe ANN diverged: $viaAnn vs $viaBrute")
      e1.clean()
    } finally pool.shutdown()
  }

  test("dupGroups racing an appender: folds and saves interleave " +
      "without corrupting the labeling — post-quiesce it equals " +
      "nearDupClusters recomputed from the live corpus") {
    import org.apache.spark.sql.functions.col
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    // identical-text triplets; every token carries the cluster number so
    // cluster shingle sets are disjoint (the minHashSignature caveat)
    def body(k: Int) = s"clusterdoc$k alpha$k beta$k gamma$k delta$k"
    e1.save((0 until 24).map(i => s"---\nbody: ${body(i / 3)}\n").mkString)
    val built = OpTrace.traced(e1.dupGroups().collect())._2 // initial rebuild
    assert(built.arm("dupgroups").contains("rebuild"))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def transient(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("") + " " +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      m.contains("NoSuchFile") || m.contains("FILE_NOT_EXIST") ||
        m.contains("does not exist")
    }
    try {
      val appender = Future {
        (0 until 6).foreach { b =>
          e1.save((0 until 3).map(_ =>
            s"---\nbody: ${body(8 + b)}\n").mkString)
        }
      }
      val maintainer = Future {
        var folds = 0
        var rounds = 0
        while (!appender.isCompleted && rounds < 30) {
          try {
            val walk = OpTrace.traced(e2.dupGroups().collect())._2
            if (walk.arm("dupgroups").contains("append")) folds += 1
          } catch { case e: Throwable if transient(e) => () }
          rounds += 1
        }
        folds
      }
      val folds = Await.result(
        appender.flatMap(_ => maintainer), 300.seconds)
      // quiesce: bring the labeling current, then the convergence
      // oracle — racing folds and the final catch-up must together
      // produce EXACTLY the from-scratch labeling of the live corpus
      val (served, last) = OpTrace.traced(e1.dupGroups().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      // non-vacuity: SOMETHING folded incrementally (a racing walk or
      // the final catch-up) — all-rebuild would not exercise the race
      assert(folds >= 1 || last.arm("dupgroups").contains("append"),
        s"no incremental fold ever ran (folds=$folds, " +
          s"final=${last.arm("dupgroups")})")
      val scratch = graft.ops.Dedup.nearDupClusters(
          e1.records.select(col("id"), col("body")), "id", "body")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(served == scratch,
        "post-race labeling diverged from the from-scratch recompute")
      assert(served.size == 42, s"expected all 42 docs labeled: " +
        s"${served.size}")
      e1.clean()
    } finally pool.shutdown()
  }

  test("dedupCompact racing an appender: the keep-one-per-group rewrite " +
      "and concurrent saves interleave on the optimistic token — no " +
      "appended doc is ever silently dropped, and post-quiesce one " +
      "final compact leaves exactly one doc per duplicate group") {
    import org.apache.spark.sql.functions.col
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    def body(k: Int) = s"compactdoc$k alpha$k beta$k gamma$k delta$k"
    // 8 triplets: compaction has work from the start
    e1.save((0 until 24).map(i => s"---\nbody: ${body(i / 3)}\n").mkString)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def transient(e: Throwable): Boolean = {
      val m = Option(e.getMessage).getOrElse("") + " " +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      m.contains("NoSuchFile") || m.contains("FILE_NOT_EXIST") ||
        m.contains("does not exist")
    }
    try {
      // appends land duplicates of clusters 8..13 (3 copies each) while
      // the compactor repeatedly rewrites the store
      val appender = Future {
        (0 until 6).foreach { b =>
          e1.save((0 until 3).map(_ =>
            s"---\nbody: ${body(8 + b)}\n").mkString)
        }
      }
      val compactor = Future {
        var compacts = 0
        var rounds = 0
        // ≥ 1 completed compact even if the appender wins the start race
        while ((compacts == 0 || !appender.isCompleted) && rounds < 12) {
          try { e2.dedupCompact(); compacts += 1 }
          catch { case e: Throwable if transient(e) => () }
          rounds += 1
        }
        compacts
      }
      val compacts = Await.result(
        appender.flatMap(_ => compactor), 300.seconds)
      assert(compacts >= 1, "the compactor never completed a commit")
      // quiesce: one final compact, then the invariants — every
      // distinct body survives EXACTLY once (no appended doc was
      // dropped by a racing rewrite; CAS + retry re-derived the
      // labeling from fresh state each time), ids are dense, and the
      // labeling is empty
      e1.dedupCompact()
      val bodies = e1.records.select(col("body")).collect()
        .map(_.getString(0)).toSeq
      assert(bodies.size == bodies.distinct.size,
        s"duplicates survived the final compact: ${bodies.size} vs " +
          s"${bodies.distinct.size}")
      assert(bodies.toSet == (0 until 14).map(body).toSet,
        s"a cluster's last survivor vanished: ${bodies.sorted}")
      val ids = e1.records.select(col("id")).collect()
        .map(_.getLong(0)).sorted
      assert(ids.sameElements(0L until 14L),
        s"post-compact ids not dense: ${ids.mkString(",")}")
      assert(e1.dupGroups().isEmpty, "post-compact labeling not empty")
      e1.clean()
    } finally pool.shutdown()
  }

  test("every commit arm publishes at one CAS point: a failure there " +
      "leaves the store as it was, a foreign commit there is retried and " +
      "survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, map}
    val db = freshStore()
    val e1 = new MemoEngine(spark, db)
    val e2 = new MemoEngine(spark, db)
    def doc(body: String, part: Int) =
      s"---\nbody: $body\nmetadata: {part: p$part}\n"
    e1.save((0 until 6).map(i => doc(s"arm seed $i", i % 2)).mkString)
    val staging = Paths.get(db, ".staging")
    def live: Long = Files.readString(Paths.get(db, "CURRENT")).trim.toLong
    def state = (live, e1.records.collect().map(_.toString).sorted.toSeq,
      e1.history.collect().map(_.toString).toSeq)
    def stagingEmpty =
      !Files.exists(staging) || !Files.list(staging).iterator().hasNext
    def feed(id: Long, body: String) = Seq((id, "updated", body))
      .toDF("id", "change", "body")
      .withColumn("metadata", map(lit("part"), lit("p0")))
      .withColumn("commit_version", lit(0L))
    var batch = -1L
    def stream(body: String): Unit = {
      batch += 1
      e1.streamAppend(Seq(body).toDF("body"), batch)
    }
    val imported = (0 until 8).map(i =>
      s"---\nid: $i\nbody: arm imported $i\nmetadata: {part: p${i % 2}}\n")
      .mkString
    val arms = Seq[(String, () => Any)](
      ("full rewrite (importYaml)", () => e1.importYaml(imported)),
      ("append save", () => e1.save(doc("arm appended", 1))),
      ("overwrite save (patch)", () => e1.save(
        "---\nid: 8\nbody: arm patched\nmetadata: {part: p0}\n")),
      ("streamAppend", () => stream("arm streamed")),
      ("applyChanges (merge)", () => e1.applyChanges(feed(1L, "arm applied"))),
      ("restore", () => e1.restore(live - 1)),
      ("clusterBy", () => e1.clusterBy("part", nClusters = 2)),
      ("reindex", () => e1.reindex()))
    arms.foreach { case (arm, call) =>
      val before = state
      e1.beforePublishHook = () => throw new IllegalStateException(arm)
      val err = intercept[IllegalStateException](call())
      e1.beforePublishHook = () => ()
      assert(err.getMessage == arm, s"$arm failed elsewhere: $err")
      assert(state == before, s"$arm: a failed publish changed the store")
      assert(stagingEmpty, s"$arm: the failed attempt left staging behind")
      call()
      assert(live == before._1 + 1, s"$arm: no version published")
      if (arm.contains("patch"))
        assert(Files.isDirectory(Paths.get(db, s"v$live", "changefeed")),
          s"$arm did not take the patch arm")
    }
    e1.save(doc("arm second segment", 1)) // reindex left one segment
    val retried = Seq[(String, () => Any, String)](
      ("overwrite save (patch)", () => e1.save(
        "---\nid: 3\nbody: arm repatched\nmetadata: {part: p1}\n"),
        "arm repatched"),
      ("streamAppend", () => stream("arm restreamed"), "arm restreamed"),
      ("applyChanges (merge)", () => e1.applyChanges(feed(2L, "arm reapplied")),
        "arm reapplied"))
    retried.foreach { case (arm, call, body) =>
      var foreign = 0
      e1.beforePublishHook = () => if (foreign == 0) {
        foreign += 1
        e2.save(s"---\nbody: foreign at $arm\n")
      }
      call()
      e1.beforePublishHook = () => ()
      assert(foreign == 1, s"$arm: the hook never ran")
      val rows = e1.records.collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.map(_._2).toSet.contains(s"foreign at $arm"),
        s"$arm lost the foreign commit: ${rows.toSeq}")
      assert(rows.map(_._2).toSet.contains(body),
        s"$arm lost its own write: ${rows.toSeq}")
      assert(rows.map(_._1).distinct.length == rows.length,
        s"$arm: duplicate ids after the retry: ${rows.toSeq}")
      assert(stagingEmpty, s"$arm: the lost attempt left staging behind")
    }
    e1.clean()
  }

  test("vacuum sweeps stale staging corpses, spares fresh attempts") {
    val db = freshStore()
    val engine = new MemoEngine(spark, db)
    engine.save("---\nbody: note\n")
    val staging = Paths.get(db, ".staging")
    val corpse = Files.createDirectory(staging.resolve("commit-corpse"))
    Files.writeString(corpse.resolve("partial"), "crashed mid-write")
    // staleness is newest-mtime-in-tree: EVERY file must be old
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    Files.setLastModifiedTime(corpse.resolve("partial"), old)
    Files.setLastModifiedTime(corpse, old)
    // a corpse-aged dir with ONE fresh file inside is an in-flight writer —
    // the parquet-write-in-progress shape — and must survive the sweep
    val inflight = Files.createDirectory(staging.resolve("commit-inflight"))
    Files.writeString(inflight.resolve("deep"), "task writing")
    Files.setLastModifiedTime(inflight, old)
    val fresh = Files.createDirectory(staging.resolve("commit-fresh"))
    // staging sweeps are uncounted — the return value stays "stale versions"
    assert(engine.vacuum() == 0)
    assert(!Files.exists(corpse), "stale staging corpse not reclaimed")
    assert(Files.exists(fresh), "fresh (possibly in-flight) attempt swept")
    assert(Files.exists(inflight),
      "old dir with a fresh deep file is an active parquet write — swept!")
    engine.clean()
  }

  test("two serving clients on one engine each read only their own " +
      "route: a brute and an ann recallServe racing on two threads") {
    val db = freshStore()
    val engine = new MemoEngine(spark, db)
    (0 until 2).foreach { p =>
      engine.save((0 until 20).map { j =>
        s"---\nbody: route note ${p * 20 + j} about topic${j % 5}\n" +
          s"metadata: {part: p$p}\n"
      }.mkString)
    }
    val f = Some("{part: p1}")
    // the same filter, two row budgets: 20 survivors ≤ 4096 brutes, and
    // over a budget of 0 the IVF probe serves
    def serve(bruteRows: Long): OpTrace = OpTrace.traced(
      engine.recallServe("topic1 note", k = 5, filterExpr = f,
        bruteRows = bruteRows).collect())._2
    serve(0L) // trains the ANN artifact before the race
    val pool = Executors.newFixedThreadPool(2)
    try {
      (0 until 3).foreach { round =>
        val start = new java.util.concurrent.CyclicBarrier(2)
        val runs = Seq(4096L, 0L).map(rows => pool.submit(
          new java.util.concurrent.Callable[OpTrace] {
            def call(): OpTrace = { start.await(); serve(rows) }
          }))
        val Seq(brute, ann) = runs.map(_.get(120, SECONDS))
        assert(brute.serveRoute == Some(("brute", 20L)),
          s"round $round: the brute client read ${brute.serveRoute}")
        assert(ann.serveRoute == Some(("ann", 20L)),
          s"round $round: the ann client read ${ann.serveRoute}")
        // the brute arm probes nothing: no ladder, no artifact walk
        assert(brute.filteredAnnProbe.isEmpty && brute.arms.isEmpty,
          s"round $round: the ann client's decisions reached the brute " +
            s"client's trace: ${brute.filteredAnnProbe} ${brute.arms}")
        assert(ann.filteredAnnProbe.isDefined &&
          ann.arm("ivf").contains("fresh"),
          s"round $round: ${ann.filteredAnnProbe} ${ann.arms}")
      }
    } finally {
      pool.shutdownNow()
      engine.clean()
    }
  }

  test("a traced append save records each commit phase once, pooled " +
      "legs included; a later untraced commit on the same pool adds " +
      "nothing to that trace") {
    import scala.jdk.CollectionConverters._
    val db = freshStore()
    val engine = new MemoEngine(spark, db)
    engine.save("---\nbody: phase seed\n")
    val (_, trace) = OpTrace.traced(
      engine.save("---\nbody: phase one\n---\nbody: phase two\n"))
    def phases = trace.phases.asScala.map(_._1).toSeq
    assert(phases.sorted == Seq("idrange_stats", "index_write",
      "manifests_finalize", "records_write"), phases)
    val recorded = trace.phases.asScala.toList
    // the same append arm, untraced: its index leg runs on the pool
    // thread that just carried the trace
    engine.save("---\nbody: phase three\n")
    engine.save("---\nbody: phase four\n")
    assert(trace.phases.asScala.toList == recorded,
      s"an untraced commit wrote into a finished trace: $phases")
    assert(engine.records.count() == 5)
    engine.clean()
  }
}
