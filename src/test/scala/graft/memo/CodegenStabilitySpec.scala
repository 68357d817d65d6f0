package graft.memo

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkTestBase

/** The serving doors keep per-query values out of Spark's generated code.
  * Spark caches compiled classes by their source text (100 entries per
  * session, one per compiling thread's class loader), so a door that
  * inlined a query's ids, cells or scores as Java literals would compile
  * new classes on every request. Each check warms a door with one query,
  * then serves two different queries and requires that no class was
  * compiled for them. */
class CodegenStabilitySpec extends SparkTestBase {

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** 60 notes over three segments; `part` splits them by segment and
    * `hot` marks every twelfth note. */
  private lazy val engine: MemoEngine = {
    val dir = java.nio.file.Files.createTempDirectory("codegen_stab")
    val e = new MemoEngine(spark, s"$dir/db")
    (0 until 3).foreach { p =>
      e.save((0 until 20).map { j =>
        val i = p * 20 + j
        val hot = if (i % 12 == 0) "h1" else "h0"
        s"---\nbody: corpus note $i about topic${i % 5} and theme${i % 3}\n" +
          s"metadata: {part: p$p, hot: $hot}\n"
      }.mkString)
    }
    e
  }

  override def afterAll(): Unit = engine.clean()

  private val queries =
    Seq("topic1 theme2", "corpus note 7 about topic3", "theme0 note")

  /** Serve `door` with the first query, then the other two: those two
    * must compile nothing. */
  private def assertStable(door: String)(serve: String => Unit): Unit = {
    serve(queries.head)
    val before = compiles
    queries.tail.foreach(serve)
    val added = compiles - before
    assert(added == 0,
      s"$door compiled $added classes for queries it had not seen")
  }

  test("recallServe compiles nothing per query on the brute, ann and pq " +
      "routes, unfiltered and filtered") {
    val f = Some("{part: p1}")
    def route(q: String, filter: Option[String], bruteRows: Long,
        pqBytes: Long, want: String): Unit = {
      engine.recallServe(q, k = 5, filterExpr = filter,
        bruteRows = bruteRows, pqBytes = pqBytes).collect()
      assert(engine.lastServeRoute.map(_._1).contains(want),
        s"expected route $want, got ${engine.lastServeRoute}")
    }
    val big = MemoEngine.DefaultServePqBytes
    assertStable("brute, filtered")(route(_, f, Long.MaxValue, big, "brute"))
    assertStable("ann, unfiltered")(route(_, None, 4096L, big, "ann"))
    assertStable("ann, filtered")(route(_, f, 0L, big, "ann"))
    assertStable("pq, unfiltered")(route(_, None, 4096L, 1L, "pq"))
    assertStable("pq, filtered")(route(_, f, 0L, 1L, "pq"))
  }

  test("hybridServe, recallServeBatch and analyzeStats compile nothing " +
      "per query") {
    import spark.implicits._
    assertStable("hybridServe")(q =>
      engine.hybridServe(q, k = 5).collect())
    assertStable("recallServeBatch")(q =>
      engine.recallServeBatch(Seq((0L, q), (1L, q + " note")).toDF("qid",
        "text"), "qid", "text", k = 5).collect())
    assertStable("recallServeBatch, filtered")(q =>
      engine.recallServeBatch(Seq((0L, q), (1L, q + " note")).toDF("qid",
        "text"), "qid", "text", k = 5, filterExpr = Some("{part: p1}"),
        bruteRows = 0L).collect())
    // the stats door's query is its filter: same shape, new values
    val filters = Iterator("{part: p0}", "{part: p1}", "{part: p2}")
    val byQuery = queries.map(_ -> filters.next()).toMap
    assertStable("analyzeStats")(q =>
      engine.analyzeStats(byQuery(q), "hot").collect())
  }
}
