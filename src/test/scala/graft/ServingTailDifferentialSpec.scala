package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.filter.FilterAlgebra
import graft.functions.GraftFunctions.metaDisplay
import graft.functions.VectorKernels
import graft.memo.{MemoEngine, MetaCodec}
import graft.ops.Lexical

/** The serving doors finish their bounded tails on the driver: hybrid
  * rank fusion and the stats top-4 + "other" rollup run over collected
  * rows. These differentials keep the Spark-side plans those tails
  * replaced as the reference ([[oldFuse]], [[oldStats]]) and require the
  * same rows, in the same order, with bit-equal scores, over stores whose
  * metadata comes from the shared typed case generator
  * ([[FilterCaseGen]]). Bodies repeat (`id % 9`), so equal cosines and
  * equal BM25 scores make rank ties; a token-free query embeds to the
  * zero vector, so every semantic score ties. */
class ServingTailDifferentialSpec extends SparkTestBase {

  private def sweepSeed: Long =
    sys.env.get("GRAFT_DIFF_SEED").flatMap(_.toLongOption)
      .getOrElse(20261019L)

  private def buildStore(gen: FilterCaseGen, n: Int): (MemoEngine, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tail_diff").toString
    val engine = new MemoEngine(spark, s"$dir/db")
    (0 until n).map(i => (i.toLong, gen.randomMeta())).grouped(n / 3)
      .zipWithIndex.foreach { case (g, b) =>
        engine.applyChanges(g.map { case (id, m) =>
          (id, "added", s"corpus doc ${id % 9} topic${id % 4}",
            m.map { case (k, v) => k -> MetaCodec.encode(v) })
        }.toDF("id", "change", "body", "metadata")
          .withColumn("commit_version", lit(0L)))
      }
    (engine, s"$dir/db")
  }

  /** The Spark-side fusion tail the hybrid doors ran before: window
    * ranks over the semantic leg's (id, score) frame, the postings probe
    * of the (current) lexical artifact, [[Lexical.rrfFuse]], the body
    * join and the global sort. */
  private def oldFuse(engine: MemoEngine, db: String, query: String,
      k: Int, filter: Option[String], perList: Int,
      vecBase: DataFrame): DataFrame = {
    val w = Window.orderBy(desc("score"), col("id"))
    val vec = vecBase.select(col("id"), col("score"))
      .withColumn("rank", row_number().over(w))
    val terms = VectorKernels.tokenize(query).toSeq.distinct
    val lists =
      if (terms.isEmpty) Seq("vec" -> vec)
      else {
        val allowed = filter.map(f => engine.recordsForFilter(f)
          .filter(FilterAlgebra.compile(f, col("metadata")))
          .select(col("id")))
        val bm = Lexical.searchBm25(spark, s"$db/_lexical", terms, perList,
            allowed)
          .select(col("doc_id").as("id"), col("score"))
          .withColumn("rank", row_number().over(w))
        Seq("bm25" -> bm, "vec" -> vec)
      }
    Lexical.rrfFuse(lists, k)
      .join(engine.records.select(col("id"), col("body")), Seq("id"))
      .orderBy(desc("rrf_score"), col("id"))
  }

  /** Rows with doubles as their bits, so equality is bit equality. */
  private def exact(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }))

  test("rrfFuseLocal equals Lexical.rrfFuse bit for bit on random ranked " +
      "lists: shared ids, repeated ids and score ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(sweepSeed)
    (0 until 40).foreach { i =>
      val lists = (0 until 1 + rnd.nextInt(3)).map { li =>
        // ids from a small range overlap across lists (and repeat
        // within one); ranks repeat too, so fused scores tie
        s"l$li" -> Seq.fill(rnd.nextInt(30))(
          (rnd.nextInt(25).toLong, 1 + rnd.nextInt(60)))
      }
      val k = 1 + rnd.nextInt(30)
      val want = Lexical.rrfFuse(lists.map { case (name, hits) =>
        name -> hits.toDF("id", "rank") }, k)
        .collect().toSeq.map(r => (r.getLong(0),
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          lists.indices.map(j => Option(r.get(2 + j)))))
      val got = Lexical.rrfFuseLocal(lists.map(_._2), k).map {
        case (id, s, ranks) =>
          (id, java.lang.Double.doubleToRawLongBits(s), ranks.toIndexedSeq)
      }
      assert(got == want, s"case $i k=$k lists=$lists")
    }
  }

  test("hybrid doors equal the Spark-side fusion bit for bit: ids, " +
      "rrf_score, r_bm25, r_vec, bodies and order, token-free queries " +
      "and rank ties included") {
    val gen = new FilterCaseGen(sweepSeed + 1)
    val rnd = new scala.util.Random(sweepSeed + 1)
    val n = 60
    val (engine, db) = buildStore(gen, n)
    val queries = Seq("corpus doc topic1", "doc 3 topic2 corpus", "?! ..",
      "topic0")
    var tokenFree = 0
    var ties = 0
    (0 until 16).foreach { i =>
      val query = queries(i % queries.length)
      val filter =
        if (i % 4 == 0) None else Some(FilterCaseGen.toJson(gen.randomFilter()))
      val k = 1 + rnd.nextInt(n)
      val perList = 1 + rnd.nextInt(n)
      val nprobe = 1 + rnd.nextInt(MemoEngine.AnnNlist)
      val bruteRows = Seq(0L, 30L, 4096L)(rnd.nextInt(3))
      val pqBytes = Seq(1L, MemoEngine.DefaultServePqBytes)(rnd.nextInt(2))
      withClue(s"case $i query '$query' filter $filter k=$k " +
          s"perList=$perList nprobe=$nprobe: ") {
        val brute = engine.hybridRecall(query, k, filter, perList)
        assert(exact(brute) == exact(oldFuse(engine, db, query, k, filter,
          perList, engine.recall(query, perList, filter))))
        val ann = engine.hybridRecall(query, k, filter, perList, ann = true,
          annNprobe = nprobe)
        assert(exact(ann) == exact(oldFuse(engine, db, query, k, filter,
          perList, engine.annRecall(query, perList, nprobe, filter))))
        val served = engine.hybridServe(query, k, filter, perList, nprobe,
          bruteRows, pqBytes)
        assert(exact(served) == exact(oldFuse(engine, db, query, k, filter,
          perList, engine.recallServe(query, perList, filter, nprobe,
            bruteRows, pqBytes))))
        if (!brute.columns.contains("r_bm25")) tokenFree += 1
        val scores = engine.recall(query, perList, filter).collect()
          .map(_.getAs[Double]("score"))
        if (scores.distinct.length < scores.length) ties += 1
      }
    }
    assert(tokenFree >= 2, s"only $tokenFree token-free cases")
    assert(ties >= 4, s"only $ties cases with tied semantic scores")
    engine.clean()
  }

  /** The Spark-side stats tail analyzeStats ran before: top 4 by
    * (cnt desc, value), "other" as the sum over the value anti-join, and
    * the global sort of the union. */
  private def oldStats(engine: MemoEngine, filter: String,
      key: String): Seq[Row] = {
    val counts = engine.statsPairs(filter, key)
      .select(metaDisplay(col("raw")).as("value"), col("cnt"))
      .groupBy(col("value")).agg(sum(col("cnt")).as("cnt"))
    val top = counts.orderBy(desc("cnt"), col("value")).limit(4)
    val other = counts
      .join(top.select(col("value")), Seq("value"), "left_anti")
      .agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt").isNotNull)
      .select(lit("other").as("value"), col("cnt"))
    top.unionByName(other).orderBy(desc("cnt"), col("value")).collect()
      .toSeq
  }

  test("analyzeStats equals the Spark-side top-4 + other plan (null " +
      "values, count ties, few and many distinct values, empty matches) " +
      "and its collected plan is one row of at most 4 values") {
    val gen = new FilterCaseGen(sweepSeed + 2)
    val n = 60
    val (engine, _) = buildStore(gen, n)
    val keys = Seq("alpha", "beta", "gamma", "id", "metadata")
    var (few, many, empty, tied) = (0, 0, 0, 0)
    (0 until 40).foreach { i =>
      val filter =
        if (i % 10 == 9) "{alpha: no such value}"
        else FilterCaseGen.toJson(gen.randomFilter())
      val key = keys(i % keys.length)
      withClue(s"case $i filter $filter key $key: ") {
        val got = engine.analyzeStats(filter, key).collect().toSeq
        assert(got == oldStats(engine, filter, key))
        val counts = engine.statsPairs(filter, key)
          .select(metaDisplay(col("raw")).as("value"), col("cnt"))
          .groupBy(col("value")).agg(sum(col("cnt")).as("cnt"))
        val tail = engine.statsTail(counts).collect()
        assert(tail.length == 1 && tail(0).getStruct(0).getSeq[Row](0)
          .length <= 4, s"the stats tail collected ${tail.toSeq}")
        val distinct = counts.count()
        if (distinct == 0) empty += 1
        else if (distinct <= 4) few += 1
        else many += 1
        val cnts = counts.collect().map(_.getLong(1))
        if (cnts.distinct.length < cnts.length) tied += 1
      }
    }
    assert(few >= 2 && many >= 3 && empty >= 3 && tied >= 3,
      s"coverage: few=$few many=$many empty=$empty tied=$tied")
    engine.clean()
  }
}
