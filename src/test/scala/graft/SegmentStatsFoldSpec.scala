package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.filter.{FilterAlgebra, SegmentStats}
import graft.memo.MetaCodec

/** [[SegmentStats.compute]]'s single-job fold against the
  * three-aggregation form it replaced ([[SegmentStatsReference]]):
  * identical stats on randomized and hand-built segments under every
  * cap, exactly one Spark job per segment, and the degraded sidecar a
  * partition past the key-tracking cap writes. */
class SegmentStatsFoldSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("metadata", MapType(StringType, StringType), nullable = true)))

  /** A segment frame over raw (already typed-encoded) metadata maps, in
    * `parts` input partitions — no shuffle in front of the fold. */
  private def segment(rows: Seq[(java.lang.Long, Map[String, String])],
      parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, m) => Row(id, m) }, parts), schema)

  private def encoded(metas: Seq[Map[String, Any]]) =
    metas.zipWithIndex.map { case (m, i) =>
      (java.lang.Long.valueOf(i.toLong),
        m.iterator.map { case (k, v) => k -> MetaCodec.encode(v) }.toMap)
    }

  /** Null-safe, NaN- and signed-zero-exact rendering: Double fields
    * print through toString, dictionaries sorted. */
  private def canon(r: (Option[(Long, Long)], SegmentStats)): String = {
    val (ids, st) = r
    val keys = st.keys.toSeq.sortBy(_._1).map { case (k, ks) =>
      def d(o: Option[Set[String]]) = o.map(_.toSeq.sorted)
      s"$k -> ${ks.copy(vals = None, elems = None)} " +
        s"vals=${d(ks.vals)} elems=${d(ks.elems)}"
    }
    (s"$ids rows=${st.rows} nMeta=${st.nMeta} complete=${st.keysComplete}"
      +: keys).mkString("\n")
  }

  private val caps = Seq((SegmentStats.MaxKeys, SegmentStats.MaxVals),
    (1, 1), (1, 2), (2, 2))

  private def assertSame(df: DataFrame, what: String): Unit =
    caps.foreach { case (mk, mv) =>
      val want = canon(SegmentStatsReference.compute(df, mk, mv))
      val got = canon(SegmentStats.compute(df, mk, mv))
      assert(got == want, s"$what caps=($mk,$mv):\n--- fold\n$got\n" +
        s"--- reference\n$want")
    }

  test("randomized FilterCaseGen segments in 3 partitions: fold == reference") {
    for (seed <- Seq(7L, 20260814L, 99L)) {
      val gen = new FilterCaseGen(seed)
      val metas = Seq.fill(60)(gen.randomMeta())
      assertSame(segment(encoded(metas), 1).repartition(3), s"seed $seed")
    }
  }

  test("hand-built edge cases: fold == reference") {
    val supp = new String(Character.toChars(0x10000))
    val priv = "\uE000" // above every other BMP char, below supp
    def f(d: Double) = MetaCodec.encode(d)
    val rows: Seq[(java.lang.Long, Map[String, String])] = Seq(
      (0L, null),
      (1L, Map.empty),
      (2L, Map("nul" -> null, "num" -> f(Double.NaN))),
      (null, Map("nul" -> null, "mixed" -> null)),
      (4L, Map("mixed" -> "sx", "num" -> f(-0.0), "lst" -> "l[]")),
      (5L, Map("num" -> f(0.0), "lst" -> """l["sa","i3","z"]""")),
      (6L, Map("num" -> f(Double.PositiveInfinity), "lst" -> "l[\"sa\"]")),
      (7L, Map("num" -> f(Double.NegativeInfinity), "mixed" -> "i7")),
      (8L, Map("str" -> ("s" + supp), "mixed" -> "bTrue")),
      (9L, Map("str" -> ("s" + priv), "mixed" -> """m{"k":"i1"}""",
        "lst" -> """l["sb"] trailing""")),
      (10L, Map("str" -> "s", "onlyEmptyList" -> "l[]",
        "lst" -> """l[ "sc" , "\\u0073d" ]""")),
      (11L, Map("legacy" -> "untagged", "num" -> "i12345678901234567890")),
      (12L, Map("str" -> ("s" + supp + "a"), "lst" -> ("l[\"s" + supp + "\"]"))))
    for (parts <- Seq(1, 3))
      assertSame(segment(rows, parts), s"edge rows in $parts partitions")
    // signed zero and NaN bounds: the first value seen wins a tie, as in
    // Spark's min/max — pinned in one partition, where order is defined
    assertSame(segment(Seq[(java.lang.Long, Map[String, String])](
      (0L, Map("z" -> f(-0.0))), (1L, Map("z" -> f(0.0))),
      (2L, Map("z" -> f(Double.NaN), "y" -> f(0.0))),
      (3L, Map("y" -> f(-0.0)))), 1), "signed zeros")
    assertSame(segment(Seq[(java.lang.Long, Map[String, String])](
      (0L, Map("n" -> f(Double.NaN))), (1L, Map("n" -> f(Double.NaN)))), 1),
      "all-NaN key")
    // an all-null / all-empty segment and a zero-row segment
    assertSame(segment(Seq[(java.lang.Long, Map[String, String])](
      (0L, null), (1L, Map.empty)), 3), "metadata-less")
    assertSame(segment(Seq.empty, 2), "empty")
  }

  test("more keys than maxKeys, below the per-partition cap: the ranking " +
      "and dictionaries match the reference") {
    // 3 partitions × 6 keys each = 18 distinct keys, n ties included —
    // past every maxKeys in `caps` except the default, and under the
    // per-partition cap for all of them (8 × maxKeys ≥ 8)
    val rows = (0 until 36).map { i =>
      val keys = (0 until 6).map(j => s"k${(i / 12) * 6 + j}")
      (java.lang.Long.valueOf(i.toLong),
        keys.map(k => k -> s"s${k}_v${i % (3 + k.length)}").toMap ++
          (if (i % 4 == 0) Map("shared" -> s"i${i % 5}") else Map.empty))
    }
    assertSame(segment(rows, 3), "wide")
  }

  test("list payloads the typed decoder rejects fail both forms alike") {
    // every value's str() rendering is part of the stats, and str() of a
    // list parses its payload — so a payload MetaCodec cannot parse
    // (JSON null elements, bare numbers, a missing bracket) fails the
    // stats pass in both forms rather than yielding divergent stats
    for (bad <- Seq("l", "l[null]", """l[null,"sa"]""", "l[1]", """l["sa""""))
    {
      val df = segment(Seq[(java.lang.Long, Map[String, String])](
        (0L, Map("k" -> bad)), (1L, Map("k" -> "sx"))), 1)
      intercept[Exception](SegmentStatsReference.compute(df))
      intercept[Exception](SegmentStats.compute(df))
    }
  }

  test("compute runs exactly one Spark job on a 3-partition segment") {
    val gen = new FilterCaseGen(5L)
    val rows = encoded(Seq.fill(90)(gen.randomMeta()))
    val dir = Files.createTempDirectory("stats_fold_jobs").resolve("seg")
    segment(rows, 3).write.parquet(dir.toString)
    val fromParquet = spark.read.schema(schema).parquet(dir.toString)
    for ((df, what) <- Seq((segment(rows, 3), "parallelized"),
        (fromParquet, "parquet"))) {
      assert(df.rdd.getNumPartitions == 3, what)
      val group = s"stats-fold-$what"
      spark.sparkContext.setJobGroup(group, group)
      val got =
        try SegmentStats.compute(df)
        finally spark.sparkContext.clearJobGroup()
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(group)
      assert(jobs.length == 1, s"$what: ${jobs.length} jobs")
      assert(canon(got) == canon(SegmentStatsReference.compute(df)), what)
    }
  }

  test("a partition past the key-tracking cap writes the degraded " +
      "sidecar, which canMatch keeps for every generated filter") {
    val gen = new FilterCaseGen(31L)
    val metas = Seq.fill(40)(gen.randomMeta())
    // maxKeys = 1 caps each partition at 8 keys: one row carrying 9
    // extra keys overflows its partition
    val wide = (0 until 9).map(i => s"x$i" -> MetaCodec.encode(i)).toMap
    val rows = encoded(metas).zipWithIndex.map { case ((id, m), i) =>
      (id, if (i == 17) m ++ wide else m)
    }
    val df = segment(rows, 3)
    val (ids, st) = SegmentStats.compute(df, maxKeys = 1, maxVals = 2)
    val (refIds, ref) = SegmentStatsReference.compute(df, 1, 2)
    assert(ids == refIds && st.rows == ref.rows && st.nMeta == ref.nMeta)
    assert(!st.keysComplete && st.keys.isEmpty, s"got $st")
    val blind = SegmentStats(st.rows, st.nMeta, keysComplete = false,
      Map.empty)
    for (round <- 0 until 200) {
      val fm = gen.randomFilter()
      val keep = SegmentStats.canMatch(fm, st)
      // pruning may depend only on the filter's shape (P11/P12), never
      // on keys the sidecar does not know
      assert(keep == SegmentStats.canMatch(fm, blind), s"round $round: $fm")
      if (!keep) assert(
        df.filter(FilterAlgebra.compile(fm, col("metadata"))).isEmpty,
        s"round $round UNSOUND: degraded sidecar pruned a match for $fm")
    }
    // the default caps overflow too, past 8 × 64 keys in one partition
    val huge = (0 until 8 * SegmentStats.MaxKeys + 1)
      .map(i => s"key$i" -> MetaCodec.encode(i)).toMap
    val degraded = SegmentStats.compute(segment(Seq(
      (java.lang.Long.valueOf(3L), huge),
      (java.lang.Long.valueOf(9L), Map.empty[String, String])), 2))
    assert(degraded == (Some((3L, 9L)),
      SegmentStats(2L, 1L, keysComplete = false, Map.empty)))
  }
}
