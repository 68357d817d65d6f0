package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.memo.MemoEngine

/** Shared pieces of the workloads. */
abstract class Workload(c: Ctx) {
  protected val seed: Long = c.conf.seed
  protected val K: Int = Sizes.K
  protected def secs(ns: Long): Double = ns / 1e9

  protected def ids(rows: Array[Row]): Vector[Long] = rows.map(_.getAs[Long]("id")).toVector

  /** Exact and brute-routed recall: must equal the oracle's ranking. */
  protected def checkExact(o: Oracle, what: String, rows: Array[Row],
      query: String, keep: Note => Boolean): Unit = {
    val want = o.topK(query, K, keep)
    val got = rows.map(r => (r.getAs[Long]("id"), r.getAs[Double]("score"))).toVector
      .sortBy { case (id, s) => (-s, id) }
    c.check(got == want && rows.forall(r => r.getAs[String]("body") ==
      o.note(r.getAs[Long]("id")).body),
      s"$what '$query': served ${got.take(3)} expected ${want.take(3)}")
  }

  /** Approximate recall: every served row must satisfy the filter and
    * carry its exact rounded score; overlap with the exact top-k feeds
    * `ann_recall_at_k`. */
  protected def checkApprox(o: Oracle, what: String, rows: Array[Row],
      query: String, keep: Note => Boolean): Unit = {
    val q = o.embed(query)
    val bad = rows.find { r =>
      val id = r.getAs[Long]("id")
      id < 0 || id >= o.size || !keep(o.note(id)) ||
        r.getAs[Double]("score") != Oracle.round4(o.rawScore(id, q))
    }
    c.check(rows.length <= K && bad.isEmpty,
      s"$what '$query': ${rows.length} rows, bad row ${bad.map(_.toString).getOrElse("-")}")
    c.annRecall(ids(rows), o.topK(query, K, keep).map(_._1))
  }

  /** analyzeStats(filter, "category"): top 4 by (count desc, value asc)
    * plus "other". */
  protected def expectedStats(o: Oracle, keep: Note => Boolean): Vector[(String, Long)] = {
    val counts = o.all.map(_._2).filter(keep).toVector.groupBy(_.category)
      .map { case (k, v) => (k, v.size.toLong) }.toVector
      .sortBy { case (k, n) => (-n, k) }
    val rest = counts.drop(4).map(_._2).sum
    (counts.take(4) ++ (if (counts.size > 4) Vector(("other", rest)) else Vector.empty))
      .sortBy { case (k, n) => (-n, k) }
  }

  /** The set-up every workload times: generate the notes, import each
    * part (one segment per part) into a fresh store whose auto-compaction
    * threshold is `maxSegments`, then a cold `maintain()`. A part is
    * written to a YAML file and imported with `saveFromPath`, or with
    * `viaSave` handed to `save` as one batch. Records `setup_s` (session
    * start included) and the import rate; returns the engine, the notes
    * and the maintain time. */
  protected def setUp(parts: Vector[Note] => Seq[Vector[Note]], n: Int,
      maxSegments: Int = MemoEngine.DefaultMaxSegments,
      viaSave: Boolean = false): (MemoEngine, Vector[Note], Double) = {
    val t0 = System.nanoTime()
    val notes = Gen.notes(Gen.rng(seed, 1), 0, n)
    val dir = c.conf.work.resolve("store")
    Dirs.deleteTree(dir)
    Files.createDirectories(dir)
    val e = new MemoEngine(c.spark, dir.resolve("data").toString, maxSegments)
    val ti = System.nanoTime()
    parts(notes).zipWithIndex.foreach { case (part, i) =>
      val yaml = Gen.yaml(part.map(x => (None, x)))
      c.userBytes += yaml.length
      val echoed =
        if (viaSave) e.save(yaml).size
        else {
          val file = dir.resolve(s"input-$i.yaml")
          Files.write(file, yaml.getBytes(UTF_8))
          e.saveFromPath(file.toString).size
        }
      c.check(echoed == part.size, s"import echoed $echoed of ${part.size}")
    }
    val importS = secs(System.nanoTime() - ti)
    val tm = System.nanoTime()
    e.maintain()
    val maintainS = secs(System.nanoTime() - tm)
    c.storeDir = Some(dir.resolve("data"))
    c.e2e("setup_s") = (c.sessionS + secs(System.nanoTime() - t0), "s")
    c.named("setup_s") = c.e2e("setup_s")
    c.layer("memo.import_docs_per_s") = (n / importS, "docs/s")
    c.notes += f"# setup: session ${c.sessionS}%.3f s, import $importS%.3f s, maintain $maintainS%.3f s"
    c.mark("setup")
    (e, notes, maintainS)
  }

  /** The end-to-end figures every workload reports; `ops` are the
    * measured operations whose latency counts. */
  protected def opFigures(ops: Vector[OpRec], opsPerS: Double, maintainS: Double): Unit = {
    c.e2e("kind_p50_geomean_ms") = (kindGeomean(ops), "ms")
    c.e2e("ops_per_s") = (opsPerS, "1/s")
    c.e2e("maintain_s") = (maintainS, "s")
    c.e2e("ann_recall_at_k") = (c.annRecallAtK, "ratio")
    c.named("maintain_s") = (maintainS, "s")
    c.named("ann_recall_at_k") = (c.annRecallAtK, "ratio")
    namedP50("op_p50_ms", c.ms(ops))
    namedTail("op_tail_ms", c.ms(ops))
    c.notes += "# p50 ms by kind (samples): " + ops.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (k, os) => f"$k ${Stats.median(c.ms(os))}%.1f (${os.size})" }.mkString(", ")
  }

  /** Geometric mean over operation kinds of each kind's median latency:
    * every kind weighs the same, whatever its cost or its count, so a
    * change of x% in any one kind moves the figure by the same share. */
  protected def kindGeomean(ops: Seq[OpRec]): Double =
    if (ops.isEmpty) Double.NaN
    else Stats.geomean(ops.groupBy(_.kind).values.map(os => Stats.median(c.ms(os))).toSeq)

  protected def namedTail(name: String, lat: Vector[Double]): Unit =
    if (lat.nonEmpty) {
      val (p, v) = Stats.tail(lat)
      c.named(name) = (v, "ms")
      c.notes += f"# $name is p$p%.1f over ${lat.size} samples"
    }

  protected def namedP50(name: String, lat: Vector[Double]): Unit =
    if (lat.nonEmpty) c.named(name) = (Stats.median(lat), "ms")

  def run(): Unit
}

/** `serve`: read-only closed loop against a pre-built, maintained store.
  * Each client walks the whole cycle of operation kinds, from its own
  * starting slot, until the run's seconds are spent and its cycle is
  * whole, and draws Zipf-worded queries from its own seeded stream, so
  * every run serves the same mix. Answers are checked after the loop
  * (the store does not change), so checking never slows the clients. */
final class ServeWorkload(c: Ctx) extends Workload(c) {
  private val N = Sizes.ServeNotes
  private val R = Sizes.ServeRecentNotes
  private val recent = Gen.recentFilter(N, R.toDouble / N)
  private val countFilters = recent +: Gen.broadFilters
  /** One slot per front door and route: unfiltered (IVF), recent-ts
    * (brute), broad (masked ANN), PQ, exact `recall`, hybrid, analyze
    * count and stats, batch. No recorded trace of the reference's
    * traffic exists to weigh them by, so each kind gets one slot. With
    * two clients, client 0 starts at slot 0 and client 1 at slot 4, so
    * the clients run different kinds side by side. */
  private val Cycle = Vector("recall", "filtered", "hybrid", "count", "broad",
    "pq", "stats", "exact", "batch")

  def run(): Unit = {
    // two commits: the old notes, then the newest R, so the recent
    // filter's one surviving segment holds R rows
    val (engine, notes, maintainS) = setUp(ns => Seq(ns.take(N - R), ns.drop(N - R)), N)
    val oracle = new Oracle
    notes.zipWithIndex.foreach { case (n, i) => oracle.put(i.toLong, n) }
    val queries = Gen.queries(Gen.rng(seed, 2), 512)
    import c.spark.implicits._
    val batches = (0 until 8).map { b =>
      val qs = Gen.queries(Gen.rng(seed, 200 + b), Sizes.ServeBatchQueries)
      (qs, qs.zipWithIndex.map { case (q, j) => (j.toLong, q) }.toDF("qid", "text").cache())
    }
    batches.foreach(_._2.count())

    // warm-up, unrecorded: one whole cycle, each client walking the
    // slots from its own start to the next client's
    closedLoop(engine, queries, batches, 0, warmUp = true)
    c.ops.clear()
    c.mark("warm-up")
    val (checks, wallS) = closedLoop(engine, queries, batches, c.conf.seconds, warmUp = false)
    c.mark("measured loop")
    checks.asScala.foreach(_.apply(oracle))
    batches.foreach(_._2.unpersist())

    val all = c.ops.asScala.toVector
    opFigures(all, all.size / wallS, maintainS)
    namedP50("recall_p50_ms", c.ms(c.opsOf("recall")))
    namedP50("filtered_recall_p50_ms", c.ms(c.opsOf("filtered", "broad")))
    namedTail("recall_tail_ms", c.ms(c.opsOf("recall", "filtered", "broad", "pq", "exact")))
    namedP50("hybrid_p50_ms", c.ms(c.opsOf("hybrid")))
    namedP50("analyze_p50_ms", c.ms(c.opsOf("count", "stats")))
    c.named("serve_ops_per_s") = (all.size / wallS, "ops/s")
    val batchOps = c.opsOf("batch")
    if (batchOps.nonEmpty) c.named("batch_recall_qps") =
      (batchOps.size * Sizes.ServeBatchQueries / (batchOps.map(_.wallNs).sum / 1e9), "queries/s")
    // how the figure moves from cycle to cycle in a longer run
    val perWindow = Cycle.length * Sizes.ServeClients
    if (all.size > perWindow) c.notes += "# kind_p50_geomean_ms by window of " +
      s"$perWindow operations: " + all.sortBy(_.startMs).grouped(perWindow)
        .filter(_.size == perWindow).map(w => f"${kindGeomean(w)}%.1f").mkString(" ")
    if (c.conf.trace) {
      c.layerProbes(countFilters.map(_.expr), queries, notes.map(_.body),
        Gen.yaml(Gen.notes(Gen.rng(seed, 3), N, 100).map(n => (None, n))))
      c.pruneProbe(engine, recent.expr)
      c.skewProbe(engine)
      c.layer("memo.catchup_ms") = (0.0, "ms")
      c.layer("memo.reindex_s") = (0.0, "s")
      c.layer("ops.dupgroups_s") = (0.0, "s")
    }
  }

  /** Run the closed-loop clients. Returns the deferred answer checks and
    * the wall time. */
  private def closedLoop(e: MemoEngine, queries: Vector[String],
      batches: Seq[(Vector[String], DataFrame)], seconds: Int, warmUp: Boolean)
      : (ConcurrentLinkedQueue[Oracle => Unit], Double) = {
    val checks = new ConcurrentLinkedQueue[Oracle => Unit]()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val threads = (0 until Sizes.ServeClients).map { id =>
      val t = new Thread(() => client(e, queries, batches, id, deadline, warmUp, checks))
      t.setName(s"serve-client-$id")
      t.start()
      t
    }
    threads.foreach(_.join())
    (checks, secs(System.nanoTime() - t0))
  }

  private def client(e: MemoEngine, queries: Vector[String],
      batches: Seq[(Vector[String], DataFrame)], id: Int, deadline: Long,
      warmUp: Boolean, checks: ConcurrentLinkedQueue[Oracle => Unit]): Unit = {
    val r = Gen.rng(seed, 100 + id + (if (warmUp) 50 else 0))
    def later(f: Oracle => Unit): Unit = if (!warmUp) checks.add(f)
    val n = Cycle.length
    val start = id * n / Sizes.ServeClients
    val warmEnd = (id + 1) * n / Sizes.ServeClients
    var step = start
    // a measured client stops only on a whole cycle, at least one
    def more: Boolean =
      if (warmUp) step < warmEnd
      else step == start || (step - start) % n != 0 || System.nanoTime() < deadline
    while (more) {
      // only the query text depends on the seed; filters and batches
      // rotate with the cycle, so every run serves the same filter mix
      val q = queries(r.nextInt(queries.length))
      val turn = step / n + id
      val broad = Gen.broadFilters(turn % Gen.broadFilters.length)
      val f = countFilters(turn % countFilters.length)
      Cycle(step % n) match {
        case "recall" =>
          c.dfOp("recall")(e.recallServe(q, K)).foreach(rows =>
            later(o => checkApprox(o, "recall", rows, q, _ => true)))
        case "filtered" =>
          c.dfOp("filtered")(e.recallServe(q, K, Some(recent.expr))).foreach(rows =>
            later(o => checkExact(o, "filtered recall", rows, q, recent.matches)))
        case "broad" =>
          c.dfOp("broad")(e.recallServe(q, K, Some(broad.expr))).foreach(rows =>
            later(o => checkApprox(o, s"broad ${broad.name}", rows, q, broad.matches)))
        case "pq" =>
          c.dfOp("pq")(e.recallServe(q, K, pqBytes = 1L)).foreach(rows =>
            later(o => checkApprox(o, "pq recall", rows, q, _ => true)))
        case "exact" =>
          c.dfOp("exact")(e.recall(q, K, Some(broad.expr))).foreach(rows =>
            later(o => checkExact(o, s"exact ${broad.name}", rows, q, broad.matches)))
        case "hybrid" =>
          c.dfOp("hybrid")(e.hybridServe(q, K)).foreach { rows =>
            later { o =>
              val bad = rows.find { row =>
                val i = row.getAs[Long]("id")
                i < 0 || i >= o.size || row.getAs[String]("body") != o.note(i).body
              }
              c.check(rows.length <= K && rows.nonEmpty && bad.isEmpty,
                s"hybrid '$q': ${rows.length} rows, bad ${bad.map(_.toString).getOrElse("-")}")
            }
          }
        case "count" =>
          c.callOp("count")(e.analyzeCount(f.expr)).foreach(n =>
            later { o =>
              val want = o.all.count { case (_, nt) => f.matches(nt) }
              c.check(n == want, s"analyzeCount ${f.expr}: $n, expected $want")
            })
        case "stats" =>
          c.dfOp("stats")(e.analyzeStats(f.expr, "category")).foreach(rows =>
            later { o =>
              val got = rows.map(x => (x.getAs[String]("value"), x.getAs[Long]("cnt"))).toVector
              val want = expectedStats(o, f.matches)
              c.check(got == want, s"analyzeStats ${f.expr}: $got, expected $want")
            })
        case "batch" =>
          val (qs, df) = batches(turn % batches.size)
          c.dfOp("batch")(e.recallServeBatch(df, "qid", "text", K)).foreach(rows =>
            later { o =>
              rows.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, qrows) =>
                checkApprox(o, "batch recall", qrows, qs(qid.toInt), _ => true)
              }
            })
      }
      step += 1
    }
  }
}

/** `ingest`: one client runs save batches of ~100 notes beside reads at
  * fixed points of a seed-independent cycle, with `maintain()` near its
  * end; cycles repeat until the run's seconds are spent. Every read
  * follows writes, so each pays the artifact catch-up. Answers are
  * checked inline against the harness's running model of the store;
  * checking time is excluded from the clock. */
final class IngestWorkload(c: Ctx) extends Workload(c) {
  private val N0 = Sizes.IngestSeedNotes
  /** The smallest cycle that runs each commit arm once and each read kind
    * once right after writes, then `maintain()`; no recorded trace of the
    * reference's traffic exists to weigh the kinds by. With the threshold
    * at 3 segments ([[Sizes.IngestMaxSegments]]) the chain goes: a plain
    * append (1 → 2 segments), an overwrite save whose overwritten ids all
    * sit in the first segment (the patch-merge arm: 2 → 2), an unfiltered
    * read, a plain append (→ 3), a recent-filtered read, `maintain()`, and
    * an append that finds the chain at the threshold and compacts it
    * (→ 1). The compaction comes after `maintain()`: a one-cycle run
    * measures the compacting commit, not the artifact rebuild that a
    * later read or `maintain()` pays for it. */
  private val Cycle = Vector("save", "overwrite", "recall", "save", "filtered",
    "maintain", "compact")

  def run(): Unit = {
    val (engine, notes0, _) = setUp(ns => Seq(ns), N0, Sizes.IngestMaxSegments, viaSave = true)
    val oracle = new Oracle
    notes0.zipWithIndex.foreach { case (n, i) => oracle.put(i.toLong, n) }
    val queries = Gen.queries(Gen.rng(seed, 2), 256)
    val rng = Gen.rng(seed, 4)
    val segs = ArrayBuffer(engine.segmentPrune("{}")._2)

    var nextIdx = N0.toLong
    var batchNo = 0
    var checkNs = 0L
    var step = 0
    var compactions = 0
    val saveMs, readMs, maintainS = ArrayBuffer.empty[Double]
    var docsSaved = 0
    val t0 = System.nanoTime()
    val deadline = t0 + c.conf.seconds * 1000000000L
    var stop = false
    while (!stop) {
      val what = Cycle(step % Cycle.length)
      what match {
        case "save" | "overwrite" | "compact" =>
          val entries = Gen.ingestBatch(rng, nextIdx, if (what == "overwrite") N0.toLong else 0L)
          val yaml = Gen.yaml(entries)
          c.userBytes += yaml.length
          c.callOp(what)(engine.save(yaml)).foreach { echo =>
            saveMs += c.ops.asScala.last.wallNs / 1e6
            docsSaved += entries.size
            val tc = System.nanoTime()
            var next = oracle.size.toLong
            val resolved = entries.map { case (id, n) =>
              (id.getOrElse { val v = next; next += 1; v }, n) }
            c.check(echo.toVector == resolved.map { case (id, n) => (id, n.body) },
              s"save batch $batchNo echoed ${echo.take(2)}, expected ${resolved.take(2)}")
            resolved.foreach { case (id, n) => oracle.put(id, n) }
            val before = segs.last
            segs += engine.segmentPrune("{}")._2
            // a compaction: a pure append that found the chain at the
            // threshold and left one segment
            if (what != "overwrite" && before >= Sizes.IngestMaxSegments && segs.last == 1)
              compactions += 1
            checkNs += System.nanoTime() - tc
          }
          nextIdx += entries.size
          batchNo += 1
        case "maintain" =>
          c.callOp("maintain")(engine.maintain()).foreach(_ =>
            maintainS += c.ops.asScala.last.wallNs / 1e9)
          val tc = System.nanoTime()
          annSample(engine, oracle)
          checkNs += System.nanoTime() - tc
        case read =>
          val q = queries(rng.nextInt(queries.length))
          val f = Gen.recentFilter(nextIdx, Sizes.IngestRecentShare)
          val filter = if (read == "filtered") Some(f.expr) else None
          c.dfOp(read)(engine.recallServe(q, K, filter)).foreach { rows =>
            readMs += c.ops.asScala.last.wallNs / 1e6
            val tc = System.nanoTime()
            if (filter.isEmpty) checkApprox(oracle, "recall", rows, q, _ => true)
            else {
              checkExact(oracle, "filtered recall", rows, q, f.matches)
              if (c.conf.trace) c.pruneProbe(engine, f.expr)
            }
            checkNs += System.nanoTime() - tc
          }
      }
      step += 1
      stop = step % Cycle.length == 0 && System.nanoTime() >= deadline
    }
    val wallS = secs(System.nanoTime() - t0 - checkNs)
    c.mark("measured loop")
    val live = engine.records.count()
    c.check(live == oracle.size, s"live records $live, expected ${oracle.size}")
    c.check(compactions >= 1, s"no auto-compaction in the run (segments ${segs.mkString(" -> ")})")

    opFigures(c.ops.asScala.filter(_.kind != "maintain").toVector,
      (saveMs.size + readMs.size) / wallS, Stats.median(maintainS.toSeq))
    namedP50("save_p50_ms", saveMs.toVector)
    namedTail("save_tail_ms", saveMs.toVector)
    c.named("ingest_docs_per_s") = (docsSaved / (saveMs.sum / 1e3), "docs/s")
    namedP50("recall_p50_ms", c.ms(c.opsOf("recall")))
    namedP50("filtered_recall_p50_ms", c.ms(c.opsOf("filtered")))
    namedTail("recall_tail_ms", readMs.toVector)
    c.notes += s"# ingest: ${saveMs.size} saves ($docsSaved notes), ${readMs.size} reads, " +
      s"${maintainS.size} maintains, $compactions compactions, segments at start and after each save " +
      segs.mkString(" -> ")
    if (c.conf.trace) {
      c.layerProbes(Seq(Gen.recentFilter(nextIdx, Sizes.IngestRecentShare).expr),
        queries, oracle.all.map(_._2.body).toVector,
        Gen.yaml(Gen.notes(Gen.rng(seed, 3), nextIdx, 100).map(n => (None, n))))
      c.skewProbe(engine)
      c.layer("memo.catchup_ms") = (Stats.median(readMs.toSeq), "ms")
      bulkTail(engine, oracle)
    }
  }

  /** ANN quality after each cycle's `maintain()`: one untimed batch of
    * sampled queries through `recallServeBatch` (the IVF route), each
    * checked and scored against the exact ranking. */
  private def annSample(e: MemoEngine, o: Oracle): Unit = {
    import c.spark.implicits._
    val qs = Gen.queries(Gen.rng(seed, 5), Sizes.IngestAnnQueries)
    val df = qs.zipWithIndex.map { case (q, j) => (j.toLong, q) }.toDF("qid", "text")
    c.untimedOp("batch recall")(e.recallServeBatch(df, "qid", "text", K).collect()).foreach {
      _.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, qrows) =>
        checkApprox(o, "batch recall", qrows, qs(qid.toInt), _ => true)
      }
    }
  }

  /** The batch stages, traced only and outside the measured operations:
    * label duplicates over the ingested store, then compact it with
    * `reindex()`, which must drop exactly the soft-deleted notes. */
  private def bulkTail(e: MemoEngine, o: Oracle): Unit = {
    val t0 = System.nanoTime()
    val labels = c.untimedOp("dupGroups")(e.dupGroups().collect())
    c.layer("ops.dupgroups_s") = (secs(System.nanoTime() - t0), "s")
    labels.foreach { rows =>
      c.check(rows.nonEmpty && rows.forall(r => r.getAs[Long]("component") <= r.getAs[Long]("id")),
        s"dupGroups: ${rows.length} labels")
    }
    val deleted = o.all.count(_._2.deleted).toLong
    val t1 = System.nanoTime()
    val dropped = c.untimedOp("reindex")(e.reindex())
    c.layer("memo.reindex_s") = (secs(System.nanoTime() - t1), "s")
    dropped.foreach(d => c.check(d == deleted, s"reindex dropped $d, expected $deleted"))
    val live = e.records.count()
    c.check(live == o.size - deleted, s"live after reindex $live, expected ${o.size - deleted}")
  }
}
