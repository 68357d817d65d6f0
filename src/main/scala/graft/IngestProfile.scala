package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job profile of ONE streaming ingest micro-batch (s94's unit of
  * cost): feeds a single batch through `MemoEngine.streamAppend` on a
  * pre-seeded store and prints every Spark job with its wall ms and
  * callsite, plus the driver gap. Measurement harness for the commit-path
  * optimization (guide §1).
  *
  * `IngestProfile save [notes] [saves]` profiles the CLI-shaped commit
  * instead: `saves` plain-append `save` calls of `notes` metadata-bearing
  * notes each (default 100 × 12) on a seeded store, printing each save's
  * wall ms and commit phases, then the per-phase medians. */
object IngestProfile {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("save")) {
      saves(spark, args.lift(1).fold(100)(_.toInt),
        args.lift(2).fold(12)(_.toInt))
      spark.stop()
      return
    }
    val n = args.headOption.map(_.toInt).getOrElse(12500)
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ingest_prof")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString)
    // seed: one committed batch so the profiled batch is the append path
    val seed = (0 until n).map(i => s"seed doc $i").toDF("body")
      .withColumn("metadata",
        org.apache.spark.sql.functions.lit(null).cast("map<string,string>"))
    engine.streamAppend(seed, 0L)

    case class Job(id: Int, site: String, t0: Long, var wallMs: Long = -1)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.map(_.name).mkString(" | ").take(160)
        jobs.put(js.jobId, Job(js.jobId, site, js.time))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(jobs.get(je.jobId)).foreach(j => j.wallMs = je.time - j.t0)
    }
    val batch = (0 until n).map(i => s"batch doc $i").toDF("body")
      .withColumn("metadata",
        org.apache.spark.sql.functions.lit(null).cast("map<string,string>"))
    batch.count() // materialize source outside the timed window
    spark.sparkContext.addSparkListener(listener)
    graft.memo.MemoEngine.commitPhaseHook = (ph, ms) =>
      println(f"  [phase] $ph%-28s $ms%7.1f ms")
    val t0 = System.nanoTime()
    engine.streamAppend(batch, 1L)
    val wall = (System.nanoTime() - t0) / 1e6
    graft.memo.MemoEngine.commitPhaseHook = null
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300)
    println(s"########## streamAppend n=$n wall=${wall.round}ms ##########")
    var sum = 0L
    order.forEach { id =>
      val j = jobs.get(id)
      sum += math.max(j.wallMs, 0)
      println(f"  job ${j.id}%4d ${j.wallMs}%6d ms  ${j.site.take(80)}")
    }
    println(s"  jobs=${order.size} sumJobMs=$sum driverGapMs=${(wall - sum).round}")
    spark.stop()
  }

  private def saves(spark: SparkSession, notes: Int, count: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_save_prof")
    // maxSegments past the run: every profiled save is a plain append
    val engine = new graft.memo.MemoEngine(spark,
      base.resolve("db").toString, maxSegments = count + 2)
    def batch(s: Int): String = (0 until notes).map { i =>
      s"---\nbody: save $s note $i about topic ${i % 7}\n" +
        s"metadata: {category: c${i % 5}, n: $i, tags: [t${i % 3}, x]}\n"
    }.mkString
    engine.save(batch(0)) // seed, and warm the JIT on one commit
    engine.save(batch(1))
    val phases = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    graft.memo.MemoEngine.commitPhaseHook = (ph, ms) => synchronized {
      phases(ph) = phases(ph) :+ ms
    }
    val walls = (0 until count).map { s =>
      val t0 = System.nanoTime()
      engine.save(batch(s + 2))
      val wall = (System.nanoTime() - t0) / 1e6
      println(f"  save ${s + 2}%3d wall $wall%8.1f ms")
      wall
    }
    graft.memo.MemoEngine.commitPhaseHook = null
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"########## save x$count notes=$notes median wall " +
      f"${median(walls)}%.1f ms ##########")
    phases.toSeq.sortBy(_._1).foreach { case (ph, ms) =>
      println(f"  [phase] $ph%-28s median ${median(ms)}%8.1f ms (n=${ms.size})")
    }
    engine.clean()
  }
}
