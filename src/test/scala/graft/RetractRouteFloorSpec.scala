package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit

import graft.memo.{MemoEngine, OpTrace}

/** The premise behind [[MemoEngine.DefaultRetractRouteMinRows]]: a retract
  * fold costs a FIXED number of Spark jobs, whatever the corpus size, so
  * below some size the O(corpus) rebuild is cheaper and above it the fold
  * is. The floor's value comes from the wall-clock crossover in
  * BENCH_NOTES r19/r20; this spec pins the shape it rests on. Each family
  * folds the same 10-delete patch on two stores 10× apart in size, with
  * the route floor at 0, and its catch-up job count must be equal at both
  * sizes — and equal to the pinned count, so a fold that grows a job
  * shows up here. */
class RetractRouteFloorSpec extends SparkTestBase {

  /** `n` docs in three CDC batches; every body has two twins, so the
    * dup labeling has groups of three. */
  private def buildStore(n: Int): MemoEngine = {
    import spark.implicits._
    val db = Files.createTempDirectory("retract_floor").toString + "/db"
    val engine = new MemoEngine(spark, db)
    (0 until n).grouped(n / 3 + 1).foreach { g =>
      engine.applyChanges(g.map(i => (i.toLong, "added",
          s"fold${i / 3} alpha${i / 3} beta${i / 3} gamma",
          Map.empty[String, String]))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    }
    engine
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

  /** (fold jobs, serve jobs) per family: each door's first call after
    * the patch (catch-up + serve), and the same call again (serve only);
    * the fold's own jobs are the difference. The families walk one at a
    * time, lexical first, so the classified diff they share is paid by
    * the lexical walk. */
  private def foldJobs(n: Int): Map[String, (Int, Int)] = {
    import spark.implicits._
    val engine = buildStore(n)
    val doors: Seq[(String, () => Any, Seq[String])] = Seq(
      ("lexical", () => engine.hybridRecall("alpha1 gamma", k = 5).collect(),
        Seq("lexical")),
      ("ann", () => engine.annRecall("alpha1 gamma", k = 5).collect(),
        Seq("ivf")),
      ("signatures", () => engine.dupGroups().collect(),
        Seq("signatures", "dupgroups")))
    doors.foreach(_._2()) // build every family at the live version
    engine.retractRouteMinRows = 0
    engine.applyChanges((0 until 10).map(g =>
        (3L * g, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(1L)))
    val sc = spark.sparkContext
    val counter = new JobCounter
    val run = java.util.UUID.randomUUID().toString
    def under(g: String)(f: => Any): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(counter)
    try {
      val arms = doors.map { case (family, door, walked) =>
        val trace = OpTrace.traced(under(s"$run-$family-fold")(door()))._2
        val arm = walked.map(trace.arm)
        under(s"$run-$family-serve")(door())
        family -> arm
      }
      arms.foreach { case (family, arm) =>
        assert(arm.forall(_.contains("retract")),
          s"n=$n: the $family walk took $arm, not the retract fold")
      }
      // the listener bus is fed in job order: once a marker job shows,
      // every earlier job has been counted
      val mark = s"$run-mark"
      under(mark)(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (counter(mark) == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(counter(mark) > 0, "listener never saw the marker job")
    } finally sc.removeSparkListener(counter)
    engine.clean()
    doors.map { case (family, _, _) =>
      val fold = counter(s"$run-$family-fold")
      val serve = counter(s"$run-$family-serve")
      family -> (fold - serve, serve)
    }.toMap
  }

  test("a 10-delete retract fold costs the same Spark jobs per family on " +
      "a 200-doc and a 2,000-doc store") {
    val small = foldJobs(200)
    val large = foldJobs(2000)
    info(s"fold jobs (catch-up, serve) at 200 docs: $small")
    info(s"fold jobs (catch-up, serve) at 2,000 docs: $large")
    assert(small == large, s"job counts grew with the corpus: $small -> $large")
    assert(small.map { case (f, (fold, _)) => f -> fold } ==
      Map("lexical" -> 16, "ann" -> 6, "signatures" -> 52),
      s"pinned catch-up job counts moved: $small")
  }
}
