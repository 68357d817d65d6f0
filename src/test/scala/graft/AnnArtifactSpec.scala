package graft.memo

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

import graft.{FilterCaseGen, SparkTestBase}
import graft.functions.GraftFunctions.{nearestCentroid, pqEncode}
import graft.ops.{IvfIndex, PqIndex}

/** The engine keeps ONE ANN artifact: a coarse quantizer, PQ codebooks,
  * and one `cell_id`-partitioned parquet of (id, embedding, code) that
  * both the IVF and the IVF-PQ routes probe. These specs pin what it
  * holds through the commit arms, and how a store written by the
  * two-artifact layout (`_ivf` + `_ivfpq`) upgrades. */
class AnnArtifactSpec extends SparkTestBase {

  private def buildStore(seed: Long, n: Int): (MemoEngine, String) = {
    import spark.implicits._
    val gen = new FilterCaseGen(seed)
    val db = Files.createTempDirectory("ann_artifact").toString + "/db"
    val engine = new MemoEngine(spark, db)
    (0 until n).map(i => (i.toLong, gen.randomMeta())).grouped(n / 2)
      .zipWithIndex.foreach { case (g, b) =>
        engine.applyChanges(g.map { case (id, m) =>
          (id, "added", s"note $id batch $b about topic${id % 7}",
            m.map { case (k, v) => k -> MetaCodec.encode(v) })
        }.toDF("id", "change", "body", "metadata")
          .withColumn("commit_version", lit(0L)))
      }
    (engine, db)
  }

  /** A driver-side copy of the live index: later commits cannot move it. */
  private def frozen(df: DataFrame): DataFrame = {
    val rows = df.select("id", "embedding").collect()
    spark.createDataFrame(rows.toSeq.asJava,
      df.select("id", "embedding").schema)
  }

  private def ranked(df: DataFrame): Set[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  private def m2(a: Array[Array[Float]]) = a.map(_.toSeq).toSeq

  test("after save, overwrite, delete and maintain() the one artifact " +
      "holds the trainers' centroids and codebooks of its last rebuild " +
      "corpus, every row in its nearest cell with its own code, and " +
      "IVF / PQ at full probe equal brute") {
    import spark.implicits._
    val (engine, db) = buildStore(20261018L, 40)
    val ann = s"$db/_ann"
    val query = "note about topic3"
    var trainedOn: DataFrame = null
    def check(step: String): Unit = withClue(s"after $step: ") {
      val n = engine.index.count()
      // every route walks the one artifact; PQ at full probe and a
      // refine covering the corpus is exact
      val brute = ranked(engine.recall(query, k = n.toInt))
      assert(ranked(engine.annRecall(query, k = n.toInt,
        nprobe = MemoEngine.AnnNlist)) == brute)
      val arm = engine.lastIvfMode
      if (arm.contains("rebuild")) trainedOn = frozen(engine.index)
      assert(ranked(engine.pqRecall(query, k = n.toInt,
        nprobe = MemoEngine.AnnNlist, refine = n.toInt)) == brute)
      assert(engine.lastIvfMode.contains("fresh"),
        "the PQ route walked a second artifact")
      val meta = IvfIndex.metaAt(spark, ann).get
      val n0 = trainedOn.count()
      assert(m2(meta.centroids) == m2(IvfIndex.trainCentroids(trainedOn,
        "embedding", math.min(MemoEngine.AnnNlist.toLong, n0).toInt)),
        s"centroids are not the rebuild corpus's (arm $arm)")
      assert(meta.codebooks.get.map(m2).toSeq ==
        PqIndex.trainCodebooks(trainedOn, "embedding", MemoEngine.AnnPqM,
          math.min(MemoEngine.AnnPqKsub.toLong, n0).toInt).map(m2).toSeq,
        s"codebooks are not the rebuild corpus's (arm $arm)")
      val rows = IvfIndex.load(spark, ann)
      assert(rows.select("id").as[Long].collect().sorted.toSeq ==
        engine.index.select("id").as[Long].collect().sorted.toSeq,
        "artifact ids != live index ids")
      val off = rows
        .withColumn("want_cell", nearestCentroid(col("embedding"),
          meta.centroids))
        .withColumn("want_code", pqEncode(col("embedding"),
          meta.codebooks.get))
        .filter(col("cell_id") =!= col("want_cell") ||
          !(col("code") === col("want_code")))
      assert(off.count() == 0, "a row is off its cell or its code")
    }
    check("build")
    assert(engine.lastIvfMode.contains("fresh"))
    engine.save("---\nbody: a saved note about topic3 and more\n")
    check("save")
    engine.save("---\nid: 4\nbody: overwritten note about topic3\n")
    check("overwrite")
    engine.retractRouteMinRows = 0
    engine.applyChanges(Seq(7L, 12L, 40L).map(i =>
        (i, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(1L)))
    check("delete")
    val rep = engine.maintain()
    assert(rep("ivf").contains("pq 8x16"), rep)
    check("maintain")
    engine.clean()
  }

  test("a store written by the two-artifact layout (a codes-less _ivf at " +
      "the live watermark plus an _ivfpq dir) takes the rebuild arm on " +
      "its first PQ serve, answers equal brute, and the stale dirs go") {
    import spark.implicits._
    val (engine, db) = buildStore(20261019L, 24)
    val live = engine.versions.max.toString
    val corpus = engine.index
    val n = corpus.count()
    val nlist = math.min(MemoEngine.AnnNlist.toLong, n).toInt
    val ksub = math.min(MemoEngine.AnnPqKsub.toLong, n).toInt
    // what that build left behind: `_ivf` is a plain IVF artifact whose
    // meta has no codebook block, `_ivfpq` a (id, code) cell layout with
    // its own `_ivfpq_meta` (stamp count:nlist:m:ksub:sampleFraction:fp,
    // occupancy, centroid rows, codebook rows); both watermarks name the
    // live version, so neither would be walked again
    IvfIndex.buildIfAbsent(corpus, "id", "embedding", nlist, s"$db/_ivf")
    val ctr = IvfIndex.trainCentroids(corpus, "embedding", nlist)
    val cbs = PqIndex.trainCodebooks(corpus, "embedding", MemoEngine.AnnPqM,
      ksub)
    PqIndex.encode(corpus, "id", "embedding", cbs)
      .join(corpus.select(col("id"),
        nearestCentroid(col("embedding"), ctr).as("cell_id")), "id")
      .write.partitionBy("cell_id").parquet(s"$db/_ivfpq")
    val occ = spark.read.parquet(s"$db/_ivfpq").groupBy("cell_id").count()
      .as[(Int, Long)].collect().toMap
    Files.write(Paths.get(db, "_ivfpq", "_ivfpq_meta"), (Seq(
        s"$n:$nlist:${MemoEngine.AnnPqM}:$ksub:1.0:fp0",
        "occ:" + (0 until nlist).map(occ.getOrElse(_, 0L)).mkString(",")) ++
      ctr.map(_.mkString(",")) ++
      cbs.flatten.map(_.mkString(","))).asJava)
    Seq("_ivf", "_ivfpq").foreach(d =>
      Files.writeString(Paths.get(db, d, "_store_version"), live + "\n"))
    assert(IvfIndex.metaAt(spark, s"$db/_ivf").get.codebooks.isEmpty)

    val query = "note about topic5"
    val served = ranked(engine.recallServe(query, k = n.toInt,
      nprobe = MemoEngine.AnnNlist, pqBytes = 0L))
    assert(engine.lastServeRoute.map(_._1).contains("pq"),
      engine.lastServeRoute)
    assert(engine.lastIvfMode.contains("rebuild"), engine.lastIvfMode)
    // refine 4 × k = n covers the corpus: the PQ route is exact
    assert(served == ranked(engine.recall(query, k = n.toInt)))
    Seq("_ivf", "_ivfpq").foreach(d =>
      assert(!Files.exists(Paths.get(db, d)), s"stale $d survived"))
    assert(IvfIndex.metaAt(spark, s"$db/_ann").get.codebooks.isDefined)
    engine.clean()
  }
}
