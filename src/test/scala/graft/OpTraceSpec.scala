package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.memo.{MemoEngine, OpTrace}

/** The engine reports what a call decided through that call's
  * [[OpTrace]], never through a field every thread shares, and a traced
  * call is the same call: same answer, same Spark jobs. */
class OpTraceSpec extends SparkTestBase {

  test("MemoEngine declares no engine-shared decision seam: no last* " +
      "setter and no commitPhaseHook setter") {
    val setters = classOf[MemoEngine].getDeclaredMethods.map(_.getName)
      .filter(_.endsWith("_$eq")).toSeq
    // the scan sees the setters the engine does keep
    assert(setters.exists(_.endsWith("retractRouteMinRows_$eq")), setters)
    val seam = """(^|\$)(last[A-Z]\w*|commitPhaseHook)_\$eq$""".r
    val seams = setters.filter(seam.findFirstIn(_).isDefined)
    assert(seams.isEmpty, "decision seams shared by every caller of the " +
      s"engine: ${seams.mkString(", ")} — note the decision into the " +
      "call's OpTrace instead")
  }

  /** Spark jobs per job group, counted by a listener. */
  private final class JobCounter extends SparkListener {
    val byGroup = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => byGroup.computeIfAbsent(g, _ => new AtomicInteger())
          .incrementAndGet())
    def apply(g: String): Int =
      Option(byGroup.get(g)).fold(0)(_.get)
  }

  /** 60 notes in three segments, `part` following the segment. */
  private def store(): MemoEngine = {
    val db = Files.createTempDirectory("op_trace").toString + "/db"
    val engine = new MemoEngine(spark, db)
    (0 until 3).foreach { p =>
      engine.save((0 until 20).map { j =>
        val i = p * 20 + j
        s"---\nbody: traced note $i about topic${i % 5} and " +
          s"theme${i % 3}\nmetadata: {part: p$p, hot: h${i % 4}}\n"
      }.mkString)
    }
    engine
  }

  private def decided(t: OpTrace): Boolean =
    t.serveRoute.isDefined || t.filteredAnnProbe.isDefined ||
      t.batchWiden.isDefined || t.countSource.isDefined ||
      t.statsSource.isDefined || !t.arms.isEmpty

  test("a traced call answers and runs exactly what the untraced call " +
      "does: every serving door and one maintain(), same rows and the " +
      "same Spark jobs") {
    import spark.implicits._
    val engine = store()
    val q = "topic1 theme2"
    val f = Some("{part: p1}")
    val queries = Seq((0L, q), (1L, "topic3 theme0")).toDF("qid", "qtext")
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val doors: Seq[(String, () => Seq[String])] = Seq(
      "recallServe brute" -> (() =>
        rows(engine.recallServe(q, k = 5, filterExpr = f))),
      "recallServe ann" -> (() =>
        rows(engine.recallServe(q, k = 5, filterExpr = f, nprobe = 1,
          bruteRows = 0L))),
      "recallServe pq" -> (() =>
        rows(engine.recallServe(q, k = 5, filterExpr = f, bruteRows = 0L,
          pqBytes = 1L))),
      "recallServe unfiltered" -> (() => rows(engine.recallServe(q, k = 5))),
      "recallServeBatch" -> (() =>
        rows(engine.recallServeBatch(queries, "qid", "qtext", k = 5,
          filterExpr = f, nprobe = 1, bruteRows = 0L))),
      "annRecallBatch" -> (() =>
        rows(engine.annRecallBatch(queries, "qid", "qtext", k = 5,
          nprobe = 1, filterExpr = f))),
      "pqRecallBatch" -> (() =>
        rows(engine.pqRecallBatch(queries, "qid", "qtext", k = 5,
          filterExpr = f))),
      "hybridRecall" -> (() =>
        rows(engine.hybridRecall(q, k = 5, filterExpr = f))),
      "hybridServe" -> (() =>
        rows(engine.hybridServe(q, k = 5, filterExpr = f, bruteRows = 0L))),
      "hybridServeBatch" -> (() =>
        rows(engine.hybridServeBatch(queries, "qid", "qtext", k = 5,
          filterExpr = f, bruteRows = 0L))),
      "annRecall" -> (() =>
        rows(engine.annRecall(q, k = 5, nprobe = 1, filterExpr = f))),
      "pqRecall" -> (() => rows(engine.pqRecall(q, k = 5))),
      "recall" -> (() => rows(engine.recall(q, k = 5, filterExpr = f))),
      "analyzeCount" -> (() => Seq(engine.analyzeCount("{part: p1}")
        .toString)),
      "analyzeStats" -> (() =>
        rows(engine.analyzeStats("{part: p1}", "hot"))),
      "analyzeProject" -> (() =>
        rows(engine.analyzeProject("{part: p1}", Seq("id", "body")))))
    doors.foreach(_._2()) // build every artifact the doors walk
    // maintain() mutates its store, so the traced and the untraced pass
    // run on two stores built and patched alike
    val twins = Seq(store(), store())
    twins.foreach { e =>
      e.maintain()
      e.applyChanges(Seq(3L, 24L, 45L).map(i =>
          (i, "removed", "", Map.empty[String, String]))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    }
    val sc = spark.sparkContext
    val counter = new JobCounter
    val run = java.util.UUID.randomUUID().toString
    def under[A](g: String)(f: => A): A = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(counter)
    val answers = try {
      val served = doors.map { case (door, call) =>
        val plain = under(s"$run-$door-plain")(call())
        val (traced, trace) = under(s"$run-$door-traced")(
          OpTrace.traced(call()))
        // the exact scans have no decision to note
        if (!Set("recall", "analyzeProject")(door))
          assert(decided(trace), s"$door noted no decision")
        (door, plain, traced)
      }
      val plainMaintain = under(s"$run-maintain-plain")(twins(0).maintain())
      val (tracedMaintain, trace) = under(s"$run-maintain-traced")(
        OpTrace.traced(twins(1).maintain()))
      assert(trace.arms.size == 3, s"maintain noted ${trace.arms}")
      // the listener bus is fed in job order: once a marker job shows,
      // every earlier job has been counted
      val mark = s"$run-mark"
      under(mark)(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (counter(mark) == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(counter(mark) > 0, "listener never saw the marker job")
      served :+ (("maintain", Seq(plainMaintain.toString),
        Seq(tracedMaintain.toString)))
    } finally sc.removeSparkListener(counter)
    answers.foreach { case (door, plain, traced) =>
      assert(plain == traced, s"$door answered differently when traced")
      val jobs = (counter(s"$run-$door-plain"), counter(s"$run-$door-traced"))
      assert(jobs._1 == jobs._2,
        s"$door ran ${jobs._1} jobs untraced, ${jobs._2} traced")
      assert(jobs._1 > 0, s"$door ran no Spark job: the count missed it")
    }
    (engine +: twins).foreach(_.clean())
  }
}
