package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Synthetic event row for the streaming throughput smoke (top-level so
  * Spark can derive its Encoder). Mirrors the events table schema. */
case class BenchEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** Streaming throughput smoke: drive a bounded event set through a
  * stateful EventStreams transform via MemoryStream and report events/sec.
  *
  * The batch twins (EventQueries) verify the CORRECTNESS of the streaming
  * plans against DuckDB; this measures the thing the twins can't see — the
  * state-store cost per micro-batch (HDFS-backed state store puts/gets,
  * watermark eviction, timeout scans). A regression in state handling
  * (e.g. an accidental per-batch full-state scan) would leave every batch
  * twin green and only show up here.
  *
  * Events are fed in `nBatches` micro-batches so the run exercises state
  * HANDOFF between batches (a single addData would collapse the run into
  * one batch with no carried state). The sink is `noop`: nothing is
  * collected, so the number is transform + state cost, not sink cost.
  */
object StreamBench {

  /** Deterministic synthetic events: one per second from a fixed epoch,
    * cycling users and event types — enough key cardinality to spread the
    * state store, no randomness so every round measures the same work.
    * `users` defaults to 255, COPRIME with the 4 event types: with a user
    * count divisible by 4 each user would only ever emit one type, the
    * error/purchase user sets would be disjoint, and the stream-stream
    * join bench ([[joinEps]]) would measure a join that never matches. */
  def syntheticEvents(n: Int, users: Int = 255): IndexedSeq[BenchEvent] = {
    val epoch = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val types = Array("view", "click", "purchase", "error")
    (0 until n).map { i =>
      BenchEvent(i.toLong, new Timestamp(epoch + i * 1000L),
        (i % users).toLong, types(i % types.length), (i % 100) / 10.0, "{}")
    }
  }

  /** The timed window every throughput entry shares: chunk `events` into
    * `nBatches` micro-batches, feed + process, and return seconds for the
    * feed+process loop ONLY. Query start-up, stop(), and cleanup are
    * harness cost, not transform/state/commit cost — including them
    * (cleanup file count grows with batches × partitions) would bias
    * events/sec downward by a run-dependent amount. */
  private def feedSeconds(input: MemoryStream[BenchEvent],
      q: org.apache.spark.sql.streaming.StreamingQuery,
      events: IndexedSeq[BenchEvent], nBatches: Int): Double = {
    val per = math.max(1, events.length / math.max(1, nBatches))
    val t0 = System.nanoTime()
    events.grouped(per).foreach { chunk =>
      input.addData(chunk: _*)
      q.processAllAvailable()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** State-partition count the noop-sink state-store entries run at.
    * The number of state partitions latches from
    * `spark.sql.shuffle.partitions` at query START and each partition
    * pays a per-micro-batch store commit (×4 stores for a stream-stream
    * join), so at ~12k-event micro-batches the commit count — not row
    * work — dominates at the session default of 32. Measured
    * (BENCH_NOTES "Round 10: s93 settled", 100k events, 8 batches,
    * 32 cpus): s93 summed state-commit ms/batch 109225 (32 parts) →
    * 27632 (16) → 4159 (8) → 1465 (4); eps 853 → 1397 → 5068 → 6334.
    * 8 is the knee where per-partition work still parallelizes but
    * commit overhead stops dominating — the production guidance for
    * state-heavy streams on small-to-medium per-batch volumes (at 100 TB
    * ingest the same sizing argument runs per-volume: partitions ∝
    * events/batch, not cluster cores). */
  val DefaultStateParts = 8

  /** Wall-clock seconds to stream `events` through `f` in `nBatches`
    * micro-batches (noop sink, fresh checkpoint), with the state
    * partition count pinned to `stateParts` around query start
    * ([[DefaultStateParts]]'s sizing argument). */
  def runSeconds(spark: SparkSession, events: IndexedSeq[BenchEvent],
      nBatches: Int, stateParts: Int = DefaultStateParts)(
      f: DataFrame => Dataset[_]): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_bench")
    try {
      val prior = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      val q = try {
        val input0 = MemoryStream[BenchEvent]
        val out = f(input0.toDF())
        (input0, out.writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append")
          .start())
      } finally spark.conf.set("spark.sql.shuffle.partitions", prior)
      try feedSeconds(q._1, q._2, events, nBatches)
      finally q._2.stop()
    } finally deleteTree(ckpt)
  }

  /** Events/sec through the tumbling-window aggregation. */
  def tumblingEps(spark: SparkSession, n: Int, nBatches: Int = 8): Double = {
    val events = syntheticEvents(n)
    n / runSeconds(spark, events, nBatches)(df =>
      EventStreams.tumblingCounts(df))
  }

  /** Events/sec through flatMapGroupsWithState sessionization (the
    * explicit-state path — per-key state puts/gets + event-time timeouts). */
  def sessionizeEps(spark: SparkSession, n: Int, nBatches: Int = 8): Double = {
    val events = syntheticEvents(n)
    n / runSeconds(spark, events, nBatches)(df =>
      EventStreams.sessionizeWithState(df, gapMinutes = 30))
  }

  /** Events/sec through watermark-bounded streaming dedup
    * (dropDuplicatesWithinWatermark — the third state-store shape beside
    * the windowed agg and the explicit-state sessionizer: per-key
    * presence state with watermark eviction, the ingest-admission cost of
    * a streaming pipeline). */
  def dedupEps(spark: SparkSession, n: Int, nBatches: Int = 8): Double = {
    val events = syntheticEvents(n)
    n / runSeconds(spark, events, nBatches)(df =>
      EventStreams.dedupedEvents(df))
  }

  /** Events/sec through the watermarked stream-stream interval join — the
    * fourth state-store shape: BOTH join sides buffer rows in state until
    * the watermark passes the interval condition, so per-event cost is a
    * state probe of the opposite side plus eviction bookkeeping (the
    * heaviest of the four; a regression in join-state eviction shows up
    * here and nowhere else). */
  def joinEps(spark: SparkSession, n: Int, nBatches: Int = 8): Double = {
    val events = syntheticEvents(n)
    n / runSeconds(spark, events, nBatches)(df =>
      EventStreams.errorThenPurchase(df))
  }

  /** Events/sec ingesting INTO the versioned memo store through the
    * exactly-once `streamAppend` sink — the write-side number the noop
    * sinks above can't see: per micro-batch this pays the embed pass, two
    * parquet segment writes, manifest extension, and the CURRENT pointer
    * swing. A regression in the commit path (e.g. an accidental full
    * rewrite instead of an append delta) shows up only here. */
  def ingestEps(spark: SparkSession, n: Int, nBatches: Int = 8): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_stream_ingest")
    val engine = new graft.memo.MemoEngine(spark, base.resolve("db").toString)
    val input = MemoryStream[BenchEvent]
    val q = input.toDF()
      .select(org.apache.spark.sql.functions.concat_ws(" ",
        org.apache.spark.sql.functions.lit("event"),
        org.apache.spark.sql.functions.col("event_id"),
        org.apache.spark.sql.functions.col("event_type")).as("body"))
      .writeStream.foreachBatch(engine.streamAppend _)
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append")
      .start()
    val elapsed =
      try feedSeconds(input, q, syntheticEvents(n), nBatches)
      finally {
        q.stop()
        deleteTree(base)
      }
    n / elapsed
  }

  /** Events/sec ingesting into the BM25 postings artifact through the
    * exactly-once `Lexical.appendOnce` sink — the lexical twin of
    * [[ingestEps]]: per micro-batch this pays the journaled commit
    * (intent marker, tokenize + postings delta, stats delta derived from
    * the written files, stamp advance). A regression in the append
    * protocol (e.g. an accidental full-corpus rescan in the stamp math)
    * shows up only here. Fed as documents (one per event), at the SAME
    * volume as [[ingestEps]] since round 11: the cost is per-batch
    * commit work (~0.7-1.0 s/batch, same band as the store ingest), so
    * an entry fed fewer events through the same batch count reports a
    * proportionally lower eps that reads as a deficit when it is only a
    * smaller divisor — the r10 "s95 is 3-7× slow" finding was exactly
    * that (BENCH_NOTES r11 profile table). */
  def lexicalIngestEps(spark: SparkSession, n: Int, nBatches: Int = 8): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_stream_lex")
    val idx = base.resolve("idx").toString
    // seed an empty artifact: appendOnce maintains, writeIndex creates
    graft.ops.Lexical.writeIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text", idx)
    val input = MemoryStream[BenchEvent]
    val q = input.toDF()
      .select(org.apache.spark.sql.functions.col("event_id").as("doc_id"),
        org.apache.spark.sql.functions.concat_ws(" ",
          org.apache.spark.sql.functions.lit("event doc"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("props")).as("text"))
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.ops.Lexical.appendOnce(df, "doc_id", "text", idx, id))
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .outputMode("append")
      .start()
    val elapsed =
      try feedSeconds(input, q, syntheticEvents(n), nBatches)
      finally {
        q.stop()
        deleteTree(base)
      }
    n / elapsed
  }

  /** Events/sec through the FULL log-shipping replication pipeline:
    * leader `streamAppend` commit → `emitChanges` CDC materialization →
    * follower `applyChanges` MERGE off the file-source log. Per round
    * this pays everything [[ingestEps]] pays PLUS one emission job and
    * one follower merge commit, so s96/s94 is the replication overhead
    * factor — a regression in the outbox (e.g. re-reading emitted
    * history) or in the apply path (e.g. a full re-embed instead of the
    * incremental changed-ids arm) shows up only here. The follower
    * stream stays up across rounds (one long-lived query, the steady
    * state of a real follower), driven by `processAllAvailable` after
    * each emission. */
  def replicationEps(spark: SparkSession, n: Int, nBatches: Int = 8): Double = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_stream_repl")
    val leader = new graft.memo.MemoEngine(spark,
      base.resolve("leader").toString)
    val follower = new graft.memo.MemoEngine(spark,
      base.resolve("follower").toString)
    val log = base.resolve("log").toString
    java.nio.file.Files.createDirectories(base.resolve("log"))
    val input = MemoryStream[BenchEvent]
    val lq = input.toDF()
      .select(concat_ws(" ", lit("event"), col("event_id"),
        col("event_type")).as("body"))
      .writeStream.foreachBatch(leader.streamAppend _)
      .option("checkpointLocation", base.resolve("lckpt").toString)
      .outputMode("append")
      .start()
    val fq = follower.changeLogStream(log).writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        follower.applyChanges(b, id, lineage = "bench"); ()
      }
      .option("checkpointLocation", base.resolve("fckpt").toString)
      .start()
    val events = syntheticEvents(n)
    val per = math.max(1, n / math.max(1, nBatches))
    val elapsed =
      try {
        val t0 = System.nanoTime()
        events.grouped(per).foreach { chunk =>
          input.addData(chunk: _*)
          lq.processAllAvailable()
          leader.emitChanges(log)
          fq.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val (l, f) = (leader.records.count(), follower.records.count())
        require(l == f && l > 0,
          s"follower diverged: leader=$l follower=$f")
        dt
      } finally {
        lq.stop(); fq.stop()
        deleteTree(base)
      }
    n / elapsed
  }

  /** Best-effort recursive delete of a throwaway directory: per-file
    * failures are ignored individually, and traversal failures must not
    * fail a measurement that already completed. */
  private def deleteTree(root: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse.foreach { p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () }
        }
      } finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }
}
