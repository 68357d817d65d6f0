package graft

import org.apache.spark.sql.DataFrame

import graft.memo.{MemoEngine, MetaCodec, OpTrace}

/** Randomized differential for the FILTERED ANN serving paths: over a
  * store whose metadata comes from the shared typed case generator
  * ([[FilterCaseGen]] — the same domain the filter-algebra and
  * data-skipping differentials run on), a filtered `annRecall` with
  * k ≥ corpus must return EXACTLY the filtered brute-force `recall`
  * ranking — ids AND scores — for every random filter. This covers the
  * whole filtered serving stack at once: the stats-pruned mask
  * derivation (a wrongly pruned segment loses survivors), the
  * probed-cell semi-join (a leaked id fails set equality), and the
  * widening/shortcut fill (an under-fill fails size equality). The PQ
  * path runs a subset (same contract, ADC-stage mask).
  *
  * Fixture note: every body shares a token with the query, so cosines
  * stay positive and `recall`'s −0.9 score floor never binds — the two
  * paths' contracts (ANN has no floor) coincide by construction. */
class FilteredAnnDifferentialSpec extends SparkTestBase {

  /** Sweep seed: committed default, overridable for the round-close
    * multi-seed re-sweep (`GRAFT_DIFF_SEED=7 sbt "testOnly …"`). */
  private def sweepSeed: Long =
    sys.env.get("GRAFT_DIFF_SEED").flatMap(_.toLongOption)
      .getOrElse(20260815L)

  /** The shared store: `n` docs of generator metadata across three CDC
    * batches (three segments — the mask derivation's segment pruning is
    * live), metadata pre-encoded, every body carrying the query token so
    * cosines stay positive and the −0.9 floor never binds. */
  private def buildStore(gen: FilterCaseGen, n: Int): MemoEngine = {
    import spark.implicits._
    val metas = (0 until n).map(i => (i.toLong, gen.randomMeta()))
    val dir = java.nio.file.Files.createTempDirectory("fann_diff").toString
    val engine = new MemoEngine(spark, s"$dir/db")
    metas.grouped(n / 3).zipWithIndex.foreach { case (g, b) =>
      val feed = g.map { case (id, m) =>
        (id, "added", s"corpus doc $id batch $b topic${id % 7}",
          m.map { case (k, v) => k -> MetaCodec.encode(v) })
      }.toDF("id", "change", "body", "metadata")
        .withColumn("commit_version",
          org.apache.spark.sql.functions.lit(0L))
      engine.applyChanges(feed)
    }
    engine
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("filtered annRecall/pqRecall == filtered brute force on random " +
      "typed metadata × random filters") {
    import spark.implicits._
    val gen = new FilterCaseGen(sweepSeed)
    val n = 60
    val engine = buildStore(gen, n)
    var nonTrivial = 0
    (0 until 30).foreach { i =>
      val filter = FilterCaseGen.toJson(gen.randomFilter())
      val exact = rows(engine.recall("corpus topic", k = n,
        filterExpr = Some(filter)))
      if (exact.nonEmpty && exact.size < n) nonTrivial += 1
      val ann = rows(engine.annRecall("corpus topic", k = n,
        nprobe = 1, filterExpr = Some(filter)))
      assert(ann == exact,
        s"case $i filter $filter: ann=$ann\nexact=$exact")
      if (i % 3 == 0) {
        val pq = rows(engine.pqRecall("corpus topic", k = n,
          nprobe = 1, refine = 8, filterExpr = Some(filter)))
        assert(pq == exact,
          s"case $i filter $filter: pq=$pq\nexact=$exact")
      }
      if (i % 5 == 0) {
        // the BATCH fill ladder under the same random filter: per query,
        // the widened batch set must equal the single-query widening
        // path — which this loop just proved equals brute force
        val queries = Seq((0L, "corpus topic"), (1L, "batch corpus doc"))
          .toDF("qid", "qtext")
        val batch = engine.annRecallBatch(queries, "qid", "qtext",
            k = n, nprobe = 1, filterExpr = Some(filter))
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        Seq(0L -> "corpus topic", 1L -> "batch corpus doc").foreach {
          case (qid, qt) =>
            val single = rows(engine.annRecall(qt, k = n, nprobe = 1,
              filterExpr = Some(filter))).toSet
            assert(batch.getOrElse(qid, Set.empty) == single,
              s"case $i filter $filter qid=$qid: batch diverged")
        }
      }
    }
    // effectiveness floor: the generator must produce a healthy share of
    // filters that are neither match-all nor match-none, or the
    // differential is vacuous
    assert(nonTrivial >= 8, s"only $nonTrivial non-trivial filters of 30")
    engine.clean()
  }

  test("serve routers: NO threshold choice changes the result set — " +
      "randomized (bruteRows, pqBytes) routes vs filtered brute force") {
    import spark.implicits._
    val gen = new FilterCaseGen(sweepSeed + 1)
    val rnd = new scala.util.Random(sweepSeed + 1)
    val n = 60
    val engine = buildStore(gen, n)
    // the route space: row bounds around the survivor counts, byte
    // budgets around the survivors' vector footprint — so the SAME
    // filter lands on different arms across cases. The fixed-threshold
    // route specs pin WHICH arm; this pins that the arm can't matter.
    val rowBounds = Seq(0L, 1L, 10L, 30L, 4096L, Long.MaxValue)
    val byteBudgets = Seq(0L, 64L, 4096L, 1L << 20, Long.MaxValue)
    val routesSeen = scala.collection.mutable.Set.empty[String]
    var nonTrivial = 0
    (0 until 30).foreach { i =>
      val filter = FilterCaseGen.toJson(gen.randomFilter())
      val bruteRows = rowBounds(rnd.nextInt(rowBounds.length))
      val pqBytes = byteBudgets(rnd.nextInt(byteBudgets.length))
      // full probe: the probe arms are provably exact there, so ANY
      // route must return the brute ranking — ids AND scores
      val exact = rows(engine.recall("corpus topic", k = n,
        filterExpr = Some(filter)))
      if (exact.nonEmpty && exact.size < n) nonTrivial += 1
      val (served, trace) = OpTrace.traced(rows(engine.recallServe(
        "corpus topic", k = n, filterExpr = Some(filter),
        nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
        pqBytes = pqBytes)))
      val route = trace.serveRoute.map(_._1).getOrElse("?")
      routesSeen += route
      assert(served == exact,
        s"case $i filter $filter route=$route bruteRows=$bruteRows " +
          s"pqBytes=$pqBytes:\nserved=$served\nexact=$exact")
      if (i % 4 == 0) {
        // the batch front door under the same randomized thresholds:
        // per-query set equality with the single door (just proven
        // equal to brute force)
        val queries = Seq((0L, "corpus topic"), (1L, "batch corpus doc"))
          .toDF("qid", "qtext")
        val batch = engine.recallServeBatch(queries, "qid", "qtext",
            k = n, filterExpr = Some(filter),
            nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
            pqBytes = pqBytes)
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        Seq(0L -> "corpus topic", 1L -> "batch corpus doc").foreach {
          case (qid, qt) =>
            val single = rows(engine.recallServe(qt, k = n,
              filterExpr = Some(filter), nprobe = MemoEngine.AnnNlist,
              bruteRows = bruteRows, pqBytes = pqBytes)).toSet
            assert(batch.getOrElse(qid, Set.empty) == single,
              s"case $i filter $filter qid=$qid: served batch diverged")
        }
      }
    }
    // vacuity guards: the threshold randomization must actually exercise
    // ≥2 distinct arms, over a healthy share of non-trivial filters
    assert(routesSeen.size >= 2,
      s"threshold randomization exercised only $routesSeen")
    assert(nonTrivial >= 6, s"only $nonTrivial non-trivial filters of 30")
    engine.clean()
  }

  test("hybrid doors: NO threshold choice changes the FUSED ranking — " +
      "randomized (bruteRows, pqBytes) routes vs the brute-leg fusion") {
    import spark.implicits._
    val gen = new FilterCaseGen(sweepSeed + 2)
    val rnd = new scala.util.Random(sweepSeed + 2)
    val n = 60
    val engine = buildStore(gen, n)
    def fused(df: DataFrame): Seq[(Long, Double, Int, Int)] =
      df.select("id", "rrf_score", "r_bm25", "r_vec").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3)))
        .toSeq
    val rowBounds = Seq(0L, 1L, 10L, 30L, 4096L, Long.MaxValue)
    val byteBudgets = Seq(0L, 64L, 4096L, 1L << 20, Long.MaxValue)
    val routesSeen = scala.collection.mutable.Set.empty[String]
    var nonTrivial = 0
    (0 until 24).foreach { i =>
      val filter = FilterCaseGen.toJson(gen.randomFilter())
      val bruteRows = rowBounds(rnd.nextInt(rowBounds.length))
      val pqBytes = byteBudgets(rnd.nextInt(byteBudgets.length))
      // reference: the brute-semantic-leg fusion (q111's argument — at
      // full probe with perList ≥ survivors every semantic arm is the
      // exact survivor ranking, so the fusion is route-independent:
      // ids, rrf scores, AND per-list ranks)
      val exact = fused(engine.hybridRecall("corpus topic", k = n,
        filterExpr = Some(filter), perList = n))
      val survivors = engine.recall("corpus topic", k = n,
        filterExpr = Some(filter)).count()
      if (survivors > 0 && survivors < n) nonTrivial += 1
      val (served, trace) = OpTrace.traced(fused(engine.hybridServe(
        "corpus topic", k = n, filterExpr = Some(filter), perList = n,
        nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
        pqBytes = pqBytes)))
      val route = trace.serveRoute.map(_._1).getOrElse("?")
      routesSeen += route
      assert(served == exact,
        s"case $i filter $filter route=$route bruteRows=$bruteRows " +
          s"pqBytes=$pqBytes:\nserved=$served\nexact=$exact")
      if (i % 4 == 0) {
        // the batch hybrid door under the same randomized thresholds:
        // per-query fused-set equality with the single door
        val queries = Seq((0L, "corpus topic"), (1L, "batch corpus doc"))
          .toDF("qid", "qtext")
        val batch = engine.hybridServeBatch(queries, "qid", "qtext",
            k = n, filterExpr = Some(filter), perList = n,
            nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
            pqBytes = pqBytes)
          .select("query_id", "id", "rrf_score", "r_bm25", "r_vec")
          .collect()
          .map(r => (r.getLong(0),
            (r.getLong(1), r.getDouble(2), r.getInt(3), r.getInt(4))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        Seq(0L -> "corpus topic", 1L -> "batch corpus doc").foreach {
          case (qid, qt) =>
            val single = fused(engine.hybridServe(qt, k = n,
              filterExpr = Some(filter), perList = n,
              nprobe = MemoEngine.AnnNlist, bruteRows = bruteRows,
              pqBytes = pqBytes)).toSet
            assert(batch.getOrElse(qid, Set.empty) == single,
              s"case $i filter $filter qid=$qid: hybrid batch diverged")
        }
      }
    }
    assert(routesSeen.size >= 2,
      s"threshold randomization exercised only $routesSeen")
    assert(nonTrivial >= 5, s"only $nonTrivial non-trivial filters of 24")
    engine.clean()
  }
}
