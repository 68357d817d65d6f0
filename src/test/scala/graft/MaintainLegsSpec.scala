package graft.memo

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.{FilterCaseGen, SparkTestBase}

/** [[MemoEngine.maintain]] runs its four artifact families (postings,
  * IVF, IVF-PQ, signatures + labeling) as concurrent legs
  * ([[MemoEngine.legs]]). These specs pin what the concurrency must not
  * change or break: the artifacts equal a one-family-at-a-time walk,
  * every Spark job lands in its caller's job group, a failing leg fails
  * the call only after its siblings finish, and a commit racing the
  * pass leaves every watermark on a committed version.
  *
  * Lives in package graft.memo to reach the build-hook seam. */
class MaintainLegsSpec extends SparkTestBase {

  private val families = Seq("_lexical", "_ivf", "_ivfpq", "_minhash")

  /** `n` docs of generator metadata in three CDC batches (three
    * segments); every fifth body repeats a cluster text so the labeling
    * has groups. Same seed → same store. */
  private def buildStore(seed: Long, n: Int): (MemoEngine, String) = {
    import spark.implicits._
    val gen = new FilterCaseGen(seed)
    val db = Files.createTempDirectory("maintain_legs").toString + "/db"
    val engine = new MemoEngine(spark, db)
    (0 until n).map(i => (i.toLong, gen.randomMeta())).grouped(n / 3)
      .zipWithIndex.foreach { case (g, b) =>
        engine.applyChanges(g.map { case (id, m) =>
          (id, "added", body(id, b),
            m.map { case (k, v) => k -> MetaCodec.encode(v) })
        }.toDF("id", "change", "body", "metadata")
          .withColumn("commit_version", lit(0L)))
      }
    (engine, db)
  }

  private def body(id: Long, batch: Int): String =
    if (id % 5 == 0) s"cluster${id % 3} alpha beta gamma delta epsilon"
    else s"corpus doc $id batch $batch topic${id % 7}"

  private def watermark(db: String, family: String): Option[String] =
    graft.ops.ArtifactMeta.read(spark, s"$db/$family", "_store_version")

  private def table(df: DataFrame): String =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.toString
      case x => String.valueOf(x)
    }.mkString("|")).sorted.mkString("\n")

  /** Everything a family walk leaves behind, generation nonces masked:
    * watermarks, IVF / IVF-PQ stamps, occupancy, centroids, codebooks
    * and live rows, the postings stamp, postings and term stats, the
    * signature stamp and rows. */
  private def artifacts(db: String): Map[String, String] = {
    def text(rel: String): String = {
      val p = Paths.get(db, rel)
      if (Files.exists(p)) Files.readString(p) else "<absent>"
    }
    def lines(rel: String) =
      Files.readAllLines(Paths.get(db, rel)).asScala.toSeq
    val ivf = graft.ops.IvfIndex.parseMetaLines(lines("_ivf/_ivf_centroids")).get
    val pq = graft.ops.PqIndex.parseIvfPqMetaLines(lines("_ivfpq/_ivfpq_meta")).get
    def m(a: Array[Array[Float]]) = a.map(_.toSeq).toSeq
    Map(
      "watermarks" -> (families :+ "_dupgroups")
        .map(f => s"$f=${watermark(db, f)}").mkString(","),
      "ivf.meta" -> (ivf.stamp, ivf.occupancy.map(_.toSeq), m(ivf.centroids))
        .toString,
      "ivf.rows" -> table(graft.ops.IvfIndex.load(spark, s"$db/_ivf")),
      "ivfpq.meta" -> (pq.stamp, pq.occupancy.map(_.toSeq), m(pq.centroids),
        pq.codebooks.map(m).toSeq).toString,
      "ivfpq.rows" -> table(graft.ops.PqIndex.loadCodes(spark, s"$db/_ivfpq")),
      // generation pointers end in a random nonce
      "lexical.meta" -> text("_lexical/_lex_meta")
        .replaceAll("_[0-9a-f]{8}\\b", "_<gen>"),
      "lexical.postings" -> lexical(db, "postings", "p:"),
      "lexical.termstats" -> lexical(db, "termstats", "s:"),
      "minhash.meta" -> text("_minhash/_minhash_meta"),
      "minhash.rows" -> table(
        graft.ops.Dedup.loadSignatures(spark, s"$db/_minhash")))
  }

  /** A postings table's live rows: the generation the stamp points at
    * (`p:` / `s:` line) once a fold has published one, else the whole
    * table; the `ingest` partition tag is a nonce and is dropped. */
  private def lexical(db: String, table: String, pointer: String): String = {
    val gen = Files.readAllLines(Paths.get(db, "_lexical", "_lex_meta"))
      .asScala.collectFirst { case l if l.startsWith(pointer) => l.drop(2) }
    this.table(spark.read.parquet(
      (Seq(s"$db/_lexical/$table") ++ gen).mkString("/")).drop("ingest"))
  }

  private def answers(e: MemoEngine): Seq[String] = Seq(
    table(e.annRecall("corpus topic3", k = 8)),
    table(e.pqRecall("corpus topic3", k = 8)),
    table(e.hybridRecall("cluster1 alpha corpus", k = 8)),
    table(e.dupGroups()))

  private def assertSameArtifacts(a: String, b: String, phase: String): Unit = {
    val (x, y) = (artifacts(a), artifacts(b))
    x.keys.foreach(k => assert(x(k) == y(k),
      s"$phase: $k differs\n--- maintain\n${x(k)}\n--- sequential\n${y(k)}"))
  }

  test("maintain()'s concurrent legs write the artifacts a one-family-at-" +
      "a-time walk through the serving doors writes, and serve the same " +
      "answers (rebuild, append and retract arms)") {
    import spark.implicits._
    val (a, dbA) = buildStore(20260901L, 45)
    val (b, dbB) = buildStore(20260901L, 45)
    // maintain() brings an existing labeling current, never creates one
    Seq(a, b).foreach(_.dupGroups().collect())
    // one family at a time, in the serving doors' own walks; the
    // physical tombstone applies are the steps maintain() adds
    def sequential(e: MemoEngine, db: String): Unit = {
      e.annRecall("corpus topic3", k = 8).collect()
      e.pqRecall("corpus topic3", k = 8).collect()
      e.hybridRecall("cluster1 alpha corpus", k = 8).collect()
      e.dupGroups().collect()
      graft.ops.IvfIndex.applyDeletes(spark, s"$db/_ivf")
      graft.ops.PqIndex.applyDeletesIvfPq(spark, s"$db/_ivfpq")
      if (graft.ops.Lexical.pendingTombstones(spark, s"$db/_lexical"))
        graft.ops.Lexical.compact(spark, s"$db/_lexical")
    }
    val r1 = a.maintain()
    sequential(b, dbB)
    assert(r1("lexical") == "current (rebuild)", r1)
    assert(r1("ivf").startsWith("current (rebuild, nlist "), r1)
    assert(r1("ivfpq").startsWith("current (rebuild, nlist "), r1)
    assert(r1("signatures") == "current (fresh)", r1)
    assertSameArtifacts(dbA, dbB, "rebuild")
    assert(answers(a) == answers(b))
    // append arm: one more batch on both stores
    val more = (45L until 54L).map(i => (i, "added", body(i, 3),
      Map("alpha" -> MetaCodec.encode(i.toInt))))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    Seq(a, b).foreach(_.applyChanges(more))
    val r2 = a.maintain()
    sequential(b, dbB)
    Seq("lexical", "signatures").foreach(f =>
      assert(r2(f) == "current (append)", r2))
    Seq("ivf", "ivfpq").foreach(f =>
      assert(r2(f).startsWith("current (append, nlist "), r2))
    assertSameArtifacts(dbA, dbB, "append")
    assert(answers(a) == answers(b))
    // retract arm: a pure-delete patch, folded (route floor 0)
    Seq(a, b).foreach { e =>
      e.retractRouteMinRows = 0
      e.applyChanges(Seq(3L, 10L, 46L).map(i =>
          (i, "removed", "", Map.empty[String, String]))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(1L)))
    }
    val r3 = a.maintain()
    sequential(b, dbB)
    Seq("lexical", "signatures").foreach(f =>
      assert(r3(f) == "current (retract)", r3))
    Seq("ivf", "ivfpq").foreach(f =>
      assert(r3(f).startsWith("current (retract, nlist "), r3))
    assert(r3("ivf_apply") == "applied" && r3("lexical_apply") == "applied", r3)
    assertSameArtifacts(dbA, dbB, "retract")
    assert(answers(a) == answers(b))
    Seq(a, b).foreach(_.clean())
  }

  test("every Spark job of two saves and a maintain() lands in its own " +
      "caller's job group, also on reused pool threads") {
    val (e, _) = buildStore(20260902L, 30)
    val sc = spark.sparkContext
    val run = java.util.UUID.randomUUID().toString
    def ids(g: String): Set[Int] =
      sc.statusTracker.getJobIdsForGroup(g).toSet
    def under[A](g: String)(f: => A): A = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val groups = (1 to 3).map(i => s"$run-call$i")
    val marks = (0 to 3).map(i => s"$run-mark$i")
    def mark(i: Int): Unit = under(marks(i))(spark.range(1).count())
    mark(0)
    under(groups(0))(e.save("---\nbody: job group save one\n"))
    mark(1)
    under(groups(1))(e.save("---\nbody: job group save two\n"))
    mark(2)
    under(groups(2))(e.maintain())
    mark(3)
    // the status store is fed asynchronously, in job order: once the
    // last marker shows, every earlier job has been recorded
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (ids(marks(3)).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    groups.indices.foreach { i =>
      // job ids are allotted in submission order, and the calls run one
      // after another: call i's jobs are exactly those between markers
      val window = ((ids(marks(i)).max + 1) until ids(marks(i + 1)).min).toSet
      val owned = ids(groups(i))
      assert(window.nonEmpty && owned == window,
        s"call ${i + 1}: jobs ${(window -- owned).toSeq.sorted} ran " +
          s"under another job group, and jobs " +
          s"${(owned -- window).toSeq.sorted} of its group ran outside it")
    }
    e.clean()
  }

  test("a failing leg fails maintain() with its own exception only after " +
      "the other legs finish; its family stays behind and the next call " +
      "converges") {
    val (e, db) = buildStore(20260903L, 30)
    val boom = new IllegalStateException("injected lexical leg failure")
    e.beforeLexicalBuildHook = () => throw boom
    val thrown = intercept[IllegalStateException](e.maintain())
    assert(thrown eq boom)
    val live = e.versions.max.toString
    Seq("_ivf", "_ivfpq", "_minhash").foreach(f =>
      assert(watermark(db, f).contains(live),
        s"$f was not brought current before the failure surfaced"))
    assert(watermark(db, "_lexical").isEmpty, "the failed family moved")
    e.beforeLexicalBuildHook = () => ()
    val report = e.maintain()
    assert(report("lexical") == "current (rebuild)", report)
    Seq("ivf", "ivfpq").foreach(f =>
      assert(report(f).startsWith("current (fresh, nlist "), report))
    assert(report("signatures") == "current (fresh)", report)
    families.foreach(f => assert(watermark(db, f).contains(live), f))
    e.clean()
  }

  test("a save racing maintain(): both finish, every watermark names a " +
      "committed version, the next maintain() makes all current, and " +
      "answers stay exact") {
    val (e, db) = buildStore(20260904L, 30)
    val writer = new MemoEngine(spark, db)
    val inPass = new CountDownLatch(1)
    // the hook fires inside the lexical leg's locked catch-up, while the
    // other legs are running
    e.beforeLexicalBuildHook = () => inPass.countDown()
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val save = Future {
        inPass.await()
        writer.save("---\nbody: racer zebra doc\n")
      }
      e.maintain()
      Await.result(save, 300.seconds)
    } finally pool.shutdown()
    e.beforeLexicalBuildHook = () => ()
    val committed = e.versions.map(_.toString).toSet
    families.foreach(f => assert(watermark(db, f).exists(committed),
      s"$f watermark ${watermark(db, f)} is no committed version"))
    e.maintain()
    val live = e.versions.max.toString
    families.foreach(f => assert(watermark(db, f).contains(live), f))
    val n = e.records.count().toInt
    assert(n == 31)
    val racer = e.records.filter("body = 'racer zebra doc'")
      .collect().map(_.getLong(0)).toSeq
    assert(e.recall("racer zebra doc", k = 1).collect()
      .map(_.getLong(0)).toSeq == racer)
    // as sets: identical bodies tie, and ties may order either way
    def ranked(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val exact = ranked(e.recall("corpus topic2", k = n))
    assert(ranked(e.annRecall("corpus topic2", k = n, nprobe = 4096)) == exact)
    e.clean()
  }
}
