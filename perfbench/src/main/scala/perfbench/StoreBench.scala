package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count}

import graft.memo.{MemoEngine, YamlIO}

/** Workload sizes, each with the reason it has that size. All stores fit
  * in memory; a run (set-up included) is sized to end well inside a
  * minute at `local[4]`. */
object Sizes {
  /** Result rows per recall. */
  val K = 10
  /** `serve`: big enough that an unfiltered or broad filter exceeds the
    * 4096-row brute bound (so it probes the IVF/PQ artifacts); no bigger,
    * since the cold store build is most of a run's time. */
  val ServeNotes = 4800
  /** `serve`: the newest notes, imported as their own commit, so the
    * recent-`ts` filter's one surviving segment stays under the bound
    * (the brute route). A multiple of [[Gen.NotesPerDay]], so no day
    * straddles the two segments. */
  val ServeRecentNotes = 480
  /** `serve`: closed-loop clients (never more than nproc). */
  val ServeClients = 2
  /** `serve`: queries per `recallServeBatch` call. */
  val ServeBatchQueries = 32
  /** `ingest`: seed store, one saved segment. The overwrite save draws
    * its ids from these notes, so they always sit in the chain's first
    * segment (the seed segment, or the compacted one that holds it). */
  val IngestSeedNotes = 800
  /** `ingest`: the store's auto-compaction threshold. The smallest chain
    * on which the overwrite save still takes the patch-merge arm (it
    * needs 2 segments, below the threshold) and a plain append then
    * reaches the threshold: each cycle goes 1 → 2 → 2 → 3 segments and
    * its last append, finding 3, compacts the chain to 1. The default of
    * 64 would need 60+ commits per run, which no run's time budget holds. */
  val IngestMaxSegments = 3
  /** `ingest`: the recent filter keeps the newest 5% of notes. */
  val IngestRecentShare = 0.05
  /** `ingest`: sampled queries for `ann_recall_at_k` after each `maintain()`. */
  val IngestAnnQueries = 32
}

/** The store benchmark: drives [[graft.memo.MemoEngine]] through its
  * public front doors on one of two workloads and prints one JSON
  * result line (see perfbench/README.md).
  *
  * {{{
  * StoreBench --workload serve|ingest --seed N --seconds S --trace 0|1
  *            --work DIR
  * }}}
  */
object StoreBench {
  final case class Conf(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val c = Conf(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")).toAbsolutePath)
    require(Set("serve", "ingest")(c.workload), s"unknown workload ${c.workload}")
    require(c.seconds >= 1, "--seconds must be >= 1")
    c
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(conf.work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", conf.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", conf.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, conf, sessionS)
    ctx.mark("session")
    val out =
      try {
        conf.workload match {
          case "serve" => new ServeWorkload(ctx).run()
          case "ingest" => new IngestWorkload(ctx).run()
        }
        ctx.mark("workload")
        ctx.report()
      } finally spark.stop()
    out.info.foreach(println)
    println(out.json)
  }
}

/** One timed user operation. Wall times in ns; `startMs`/`endMs` are
  * wall-clock millis for matching Spark job intervals. */
final case class OpRec(kind: String, wallNs: Long, planNs: Long, execNs: Long,
    startMs: Long, endMs: Long, group: Option[String], traced: Boolean)

final case class Output(info: Seq[String], json: String)

/** Per-run state shared by the workloads: the session, the op log, the
  * answer-check tallies, the tracer and the job recorder. */
final class Ctx(val spark: SparkSession, val conf: StoreBench.Conf, val sessionS: Double) {
  val tracer = new Tracer(conf.trace)
  val jobs: Option[JobRecorder] =
    if (conf.trace) {
      val r = new JobRecorder
      spark.sparkContext.addSparkListener(r)
      Some(r)
    } else None

  private val opSeq = new AtomicLong(0)
  val ops = new ConcurrentLinkedQueue[OpRec]()
  val attempted = new AtomicInteger(0)
  val failed = new AtomicInteger(0)
  /** End-to-end figures, set by the workload. */
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-kind figures of the workload, printed as `#` lines. */
  val named = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures the workload measured directly. */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = ArrayBuffer.empty[String]
  private val annHits = new AtomicLong(0)
  private val annSlots = new AtomicLong(0)
  private val gcStart = gcMs()
  private val ioStart = ioWriteBytes()
  var userBytes = 0L
  var storeDir: Option[Path] = None

  /** Run one user operation that returns a DataFrame: `plan` is the call
    * until the frame comes back, `exec` the collect. A throw counts as a
    * failed operation and returns None. In a traced run every other
    * operation is traced, so the untraced half gives the overhead. */
  def dfOp(kind: String)(plan: => DataFrame): Option[Array[Row]] =
    timed(kind) {
      val t0 = System.nanoTime()
      val df = tracer.span("memo", s"$kind.plan")(plan)
      val t1 = System.nanoTime()
      val rows = tracer.span("memo", s"$kind.exec")(df.collect())
      (rows, t1 - t0, System.nanoTime() - t1)
    }

  /** Run a checked call that is not a measured operation (answer
    * sampling, traced batch stages): it counts as attempted, a throw as
    * failed, and it records no latency and no job group. */
  def untimedOp[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Exception =>
        check(false, s"$what failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200).replace('\n', ' '))
        None
    }
  }

  /** Run one user operation with no plan/exec split. */
  def callOp[T](kind: String)(body: => T): Option[T] =
    timed(kind) {
      val t0 = System.nanoTime()
      val v = tracer.span("memo", kind)(body)
      (v, System.nanoTime() - t0, 0L)
    }

  private def timed[T](kind: String)(f: => (T, Long, Long)): Option[T] = {
    val n = opSeq.getAndIncrement()
    val traced = conf.trace && n % 2 == 0
    val group = if (traced) Some(s"op-$n") else None
    val sc = spark.sparkContext
    group.foreach(g => sc.setJobGroup(g, kind, interruptOnCancel = false))
    attempted.incrementAndGet()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val (v, planNs, execNs) =
        if (traced) tracer.on(tracer.span("harness", kind, group)(f))
        else f
      val wall = System.nanoTime() - t0
      ops.add(OpRec(kind, wall, planNs, execNs, startMs, System.currentTimeMillis(),
        group, traced))
      Some(v)
    } catch {
      case e: Exception =>
        failed.incrementAndGet()
        note(s"# error: $kind failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200).replace('\n', ' '))
        None
    } finally group.foreach(_ => sc.clearJobGroup())
  }

  /** Record a wrong answer as a failed operation. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed.incrementAndGet()
      note(s"# wrong answer: $what")
    }

  /** Note how far into the JVM's life a phase ended. */
  def mark(phase: String): Unit =
    notes += f"# t+${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $phase"

  /** Keep the first 20 diagnostics (clients report concurrently). */
  def note(line: String): Unit = notes.synchronized {
    if (notes.size < 20) notes += line
  }

  def annRecall(served: Seq[Long], exact: Seq[Long]): Unit =
    if (exact.nonEmpty) {
      annHits.addAndGet(served.toSet.intersect(exact.toSet).size.toLong)
      annSlots.addAndGet(exact.size.toLong)
    }

  def annRecallAtK: Double =
    if (annSlots.get == 0) Double.NaN else annHits.get.toDouble / annSlots.get

  def opsOf(kinds: String*): Vector[OpRec] = ops.asScala.filter(o => kinds.contains(o.kind)).toVector
  def ms(os: Seq[OpRec]): Vector[Double] = os.map(_.wallNs / 1e6).toVector

  /** Direct probes of the layers the engine calls internally, which no
    * operation span can see: filter compile, query embed, corpus embed,
    * YAML parse. Each times its own calls; none records spans. */
  def layerProbes(filters: Seq[String], queries: Seq[String], bodies: Seq[String],
      batchYaml: String): Unit = {
    val compileUs = for (_ <- 0 until 20; f <- filters) yield {
      val t = System.nanoTime()
      graft.filter.FilterAlgebra.compile(f, col("metadata"))
      (System.nanoTime() - t) / 1e3
    }
    layer("filter.compile_us") = (Stats.median(compileUs), "us")
    val embedUs = queries.take(200).map { q =>
      val t = System.nanoTime()
      graft.functions.VectorKernels.hashEmbedFloats(q, graft.functions.VectorKernels.DefaultDim)
      (System.nanoTime() - t) / 1e3
    }
    layer("functions.query_embed_us") = (Stats.median(embedUs), "us")
    import spark.implicits._
    val ds = bodies.toDS().cache()
    ds.count()
    val rates = (0 until 3).map { _ =>
      val t = System.nanoTime()
      ds.select(graft.functions.GraftFunctions.embedText(col("value")).as("v"))
        .agg(count(col("v"))).collect()
      bodies.size / ((System.nanoTime() - t) / 1e9)
    }
    ds.unpersist()
    layer("functions.embed_rows_per_s") = (Stats.median(rates), "rows/s")
    val parseMs = (0 until 5).map { _ =>
      val t = System.nanoTime()
      YamlIO.parseSaveBatch(batchYaml)
      (System.nanoTime() - t) / 1e6
    }
    layer("memo.yaml_parse_ms") = (Stats.median(parseMs), "ms")
  }

  /** Segment pruning as the engine reports it, for the per-layer view. */
  def pruneProbe(engine: MemoEngine, filter: String): Unit = {
    val t = System.nanoTime()
    val (kept, total) = engine.segmentPrune(filter)
    layer("filter.prune_ms") = ((System.nanoTime() - t) / 1e6, "ms")
    layer("filter.segments_kept_ratio") = (if (total == 0) 0.0 else kept.toDouble / total, "ratio")
    layer("memo.segments_live") = (total.toDouble, "count")
  }

  def skewProbe(engine: MemoEngine): Unit = {
    layer("ops.ivf_skew") = (engine.ivfSkew().getOrElse(0.0), "ratio")
    layer("ops.pq_skew") = (engine.pqSkew().getOrElse(0.0), "ratio")
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Bytes this process handed to write(2), from /proc/self/io. */
  def ioWriteBytes(): Long = {
    val p = Paths.get("/proc/self/io")
    if (!Files.isReadable(p)) 0L
    else Files.readAllLines(p).asScala.collectFirst {
      case l if l.startsWith("wchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
  }

  /** Wait until the listener bus has delivered every job end. */
  private def drainListener(r: JobRecorder): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var stableSince = System.nanoTime()
    var last = -1
    while (System.nanoTime() < deadline &&
        (r.synchronized(r.jobs.values.exists(_.endMs < 0)) ||
          System.nanoTime() - stableSince < 300_000_000L)) {
      val n = r.synchronized(r.jobs.size + r.stages.size)
      if (n != last) { last = n; stableSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }

  private def storeFacts(): Unit = storeDir.foreach { d =>
    var bytes = 0L
    var files = 0L
    if (Files.isDirectory(d)) {
      val w = Files.walk(d)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        bytes += Files.size(f); files += 1
      } finally w.close()
    }
    val user = math.max(1L, userBytes).toDouble
    layer("store.bytes_per_user_byte") = (bytes / user, "ratio")
    layer("store.bytes_written_per_user_byte") = ((ioWriteBytes() - ioStart) / user, "ratio")
    layer("store.files") = (files.toDouble, "count")
  }

  /** Per-operation Spark facts over the traced operations. */
  private def sparkFacts(r: JobRecorder): Unit = {
    drainListener(r)
    val traced = ops.asScala.filter(_.traced).toVector
    val n = math.max(1, traced.size).toDouble
    val perOp = traced.map(o => o -> o.group.map(r.jobsOf).getOrElse(Nil))
    val allJobs = perOp.flatMap(_._2)
    val stageIds = allJobs.flatMap(_.stages).distinct
    val facts = r.stageFacts(stageIds)
    layer("spark.jobs_per_op") = (allJobs.size / n, "count")
    layer("spark.stages_per_op") = (facts.size / n, "count")
    layer("spark.tasks_per_op") = (facts.map(_.tasks).sum / n, "count")
    layer("spark.job_ms_per_op") =
      (allJobs.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / n, "ms")
    layer("spark.executor_cpu_ms_per_op") = (facts.map(_.cpuNs).sum / 1e6 / n, "ms")
    layer("spark.input_bytes_per_op") = (facts.map(_.inputBytes).sum / n, "bytes")
    layer("spark.shuffle_bytes_per_op") = (facts.map(_.shuffleBytes).sum / n, "bytes")
    val allFacts = r.synchronized(r.stages.values.toVector)
    layer("spark.spill_bytes") = (allFacts.map(_.spillBytes).sum.toDouble, "bytes")
    val skews = allFacts.filter(_.taskMs.size >= 2).map { f =>
      val med = math.max(1.0, Stats.median(f.taskMs.map(_.toDouble)))
      f.taskMs.max / med
    }
    layer("spark.task_skew") = (if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio")
    val gaps = perOp.map { case (o, js) =>
      val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
      (o.endMs - o.startMs) - Tracer.unionWithin(iv, o.startMs, o.endMs).toDouble
    }
    layer("memo.driver_gap_ms") = (if (gaps.isEmpty) 0.0 else Stats.median(gaps), "ms")
  }

  /** Span facts: plan/exec medians, self time per layer, overhead. Only
    * the spans of measured traced operations count (warm-up operations
    * also open spans, under groups no measured operation has). */
  private def spanFacts(): Unit = {
    val traced = ops.asScala.filter(_.traced).toVector
    val untraced = ops.asScala.filter(o => !o.traced).toVector
    val withPlan = traced.filter(_.execNs > 0)
    layer("memo.plan_ms") = (if (withPlan.isEmpty) 0.0 else Stats.median(withPlan.map(_.planNs / 1e6)), "ms")
    layer("memo.exec_ms") = (if (withPlan.isEmpty) 0.0 else Stats.median(withPlan.map(_.execNs / 1e6)), "ms")
    val spans = Tracer.under(tracer.spans, traced.flatMap(_.group).toSet)
    val self = Tracer.selfTimes(spans)
    val nOps = math.max(1, traced.size).toDouble
    // operations open spans only around the engine's front doors (memo)
    // and the harness's own bookkeeping around them
    Seq("harness", "memo").foreach { l =>
      layer(s"$l.self_ms_per_op") =
        (spans.filter(_.layer == l).map(s => self(s.id)).sum / 1e6 / nOps, "ms")
    }
    // tracing overhead: traced minus untraced operations of the same run,
    // compared kind by kind so the two halves' mixes cannot bias it
    val kinds = traced.map(_.kind).distinct.filter(k => untraced.exists(_.kind == k))
    val deltas = kinds.map { k =>
      Stats.median(traced.filter(_.kind == k).map(_.wallNs / 1e6)) -
        Stats.median(untraced.filter(_.kind == k).map(_.wallNs / 1e6))
    }
    layer("trace.overhead_ms") = (if (deltas.isEmpty) 0.0 else Stats.median(deltas), "ms")
    layer("trace.traced_op_p50_ms") = (if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.wallNs / 1e6)), "ms")
    layer("trace.untraced_op_p50_ms") = (if (untraced.isEmpty) 0.0 else Stats.median(untraced.map(_.wallNs / 1e6)), "ms")
    writeSpans(spans)
  }

  private def writeSpans(spans: Seq[Span]): Unit = {
    val f = conf.work.resolve(s"spans-${conf.workload}-${conf.seed}.jsonl")
    val sb = new java.lang.StringBuilder
    val self = Tracer.selfTimes(spans)
    spans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""")
        .append(s""""start_ns":${s.startNs},"dur_ns":${s.durNs},"self_ns":${self(s.id)}""")
        .append(s.group.map(g => s""","group":"$g"""").getOrElse(""))
        .append("}\n")
    }
    Files.write(f, sb.toString.getBytes(UTF_8))
  }

  def report(): Output = {
    val info = ArrayBuffer.empty[String]
    info ++= notes
    val errRatio = failed.get.toDouble / math.max(1, attempted.get)
    named("error_ratio") = (errRatio, "ratio")
    named("heap_peak_mb") = (heapPeakMb(), "MB")
    named.foreach { case (k, (v, u)) => info += f"# ${conf.workload} $k = $v%.4f $u" }
    val metrics =
      if (!conf.trace) e2e
      else {
        layer("jvm.heap_peak_mb") = (heapPeakMb(), "MB")
        layer("jvm.gc_ms_per_op") = ((gcMs() - gcStart).toDouble / math.max(1, ops.size), "ms")
        layer("error_ratio") = (errRatio, "ratio")
        storeFacts()
        jobs.foreach(sparkFacts)
        spanFacts()
        layer
      }
    val body = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    val ok = failed.get == 0
    Output(info.toSeq,
      s"""{"correct": $ok, "attempted": ${attempted.get}, "failed": ${failed.get}, "metrics": {$body}}""")
  }
}

object Dirs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists(_))
      finally w.close()
    }
}
