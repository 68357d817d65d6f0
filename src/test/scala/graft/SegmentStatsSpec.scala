package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.filter.{FilterAlgebra, SegmentStats}
import graft.memo.{MemoEngine, MetaCodec}

/** Segment-level data skipping ([[SegmentStats]]): per-segment metadata
  * stats sidecars + a driver-side sound over-approximation of the filter
  * algebra. The load-bearing property is SOUNDNESS — canMatch may only
  * say false when NO row of the segment can satisfy the compiled
  * predicate — pinned differentially over the same randomized typed
  * (metadata, filter) domain the filter-algebra suites use, plus the
  * ordering edge cases where an unsound mirror would diverge from
  * Spark's UTF8String comparisons. */
class SegmentStatsSpec extends SparkTestBase {

  // ------------------------------------------------------ pure unit pins

  test("cpCompare is code-point (UTF-8 byte) order, not UTF-16 order") {
    // U+10000 (surrogate pair in UTF-16) sorts ABOVE U+E000 by code
    // point — Java's String.compareTo says the opposite
    val supp = new String(Character.toChars(0x10000))
    assert(SegmentStats.cpCompare(supp, "") > 0)
    assert("".compareTo(supp) > 0) // the trap the mirror avoids
    assert(SegmentStats.cpCompare("a", "ab") < 0)
    assert(SegmentStats.cpCompare("", "") == 0)
    assert(SegmentStats.cpCompare("b", "a") > 0)
  }

  test("prefixSuccessor bounds the prefix interval") {
    assert(SegmentStats.prefixSuccessor("ab") == Some("ac"))
    assert(SegmentStats.prefixSuccessor("") == None)
    val maxCp = new String(Character.toChars(Character.MAX_CODE_POINT))
    assert(SegmentStats.prefixSuccessor(maxCp) == None)
    assert(SegmentStats.prefixSuccessor("a" + maxCp) == Some("b"))
    // BMP max char is NOT the max code point — it has a successor
    assert(SegmentStats.prefixSuccessor("a\uFFFF") ==
      Some("a" + new String(Character.toChars(0x10000))))
  }

  test("codec round-trips hostile strings") {
    val nasty = Seq("", " ", "a b", "line\nbreak", "tab\there", "ключ",
      new String(Character.toChars(0x10000)), "с пробелом и =",
      "\"quoted\"", "-._~")
    def ks(lo: String, hi: String) = graft.filter.KeyStats(
      3L, 0L, 1L, 2L, lo, hi, Some(1.0), Some(2.0),
      Some(lo), Some(hi), None, Some(hi),
      vals = Some(Set(lo, hi, "")), elems = None)
    val st = SegmentStats(42L, 40L, keysComplete = false,
      nasty.map(s => s -> ks(s, s + "z")).toMap +
        ("emptyDicts" -> ks("a", "b").copy(
          vals = Some(Set.empty), elems = Some(Set.empty))))
    assert(SegmentStats.decode(SegmentStats.encode(st)) == Some(st))
    assert(SegmentStats.decode("garbage") == None)
    assert(SegmentStats.decode("meta9 1 1 1") == None) // future version
  }

  // -------------------------------------------- randomized soundness

  /** The core property: over randomized typed metadata segments and
    * randomized filters, every segment containing a row the COMPILED
    * predicate matches must survive canMatch. (Completeness is not
    * required — pruning is an over-approximation — but the run records
    * how often it fires so the feature provably does something.) */
  test("differential soundness: canMatch never prunes a matching segment") {
    import spark.implicits._
    val gen = new FilterCaseGen(20260814L)
    val nSegs = 10
    val rowsPerSeg = 40
    val rows = for {
      seg <- 0 until nSegs
      i <- 0 until rowsPerSeg
    } yield {
      val meta = gen.randomMeta().map { case (k, v) =>
        k -> MetaCodec.encode(v)
      }
      (seg.toLong * rowsPerSeg + i, seg, meta)
    }
    val df = rows.toDF("id", "seg", "metadata").cache()
    df.count()
    val stats = (0 until nSegs).map { s =>
      s -> SegmentStats.compute(df.filter(col("seg") === s))._2
    }.toMap
    var pruned = 0
    var total = 0
    for (round <- 0 until 120) {
      val fm = gen.randomFilter()
      val matched = df
        .filter(FilterAlgebra.compile(fm, col("metadata")))
        .select("seg").distinct().collect().map(_.getInt(0)).toSet
      for (s <- 0 until nSegs) {
        val keep = SegmentStats.canMatch(fm, stats(s))
        total += 1
        if (!keep) {
          pruned += 1
          assert(!matched.contains(s),
            s"round $round UNSOUND: segment $s pruned under $fm but " +
              "contains a matching row")
        }
      }
    }
    df.unpersist()
    // effectiveness floor: the generator produces plenty of provably
    // unmatchable (segment, filter) pairs — absent keys, $bogus ops,
    // out-of-range operands. A mirror that never prunes is useless.
    assert(pruned > total / 10,
      s"pruned only $pruned of $total segment decisions")
  }

  // ------------------------------------------------- targeted semantics

  private def statsOf(metas: Seq[Map[String, Any]]): SegmentStats = {
    import spark.implicits._
    val df = metas.zipWithIndex.map { case (m, i) =>
      (i.toLong, m.map { case (k, v) => k -> MetaCodec.encode(v) })
    }.toDF("id", "metadata")
    SegmentStats.compute(df)._2
  }

  test("non-default caps: key overflow marks the set incomplete, value " +
      "overflow drops only that key's dictionary — both sides stay sound") {
    import spark.implicits._
    val df = Seq(
      (0L, Map("ka" -> "sv1", "kb" -> "sw1")),
      (1L, Map("ka" -> "sv2", "kb" -> "sw1")),
      (2L, Map("ka" -> "sv3", "kb" -> "sw2")))
      .toDF("id", "metadata")
    // maxKeys=1: only the largest key survives (ties break by key name,
    // so 'ka'); the set reads INCOMPLETE — a filter on the dropped key
    // must keep the segment (unknown, not provably absent)
    val st = SegmentStats.compute(df, maxKeys = 1, maxVals = 2)._2
    assert(!st.keysComplete && st.keys.keySet == Set("ka"),
      s"expected one kept key and an incomplete set, got ${st.keys.keySet}")
    assert(SegmentStats.canMatch(Map("kb" -> "w9"), st),
      "a dropped key must read as unknown, never as provably absent")
    // maxVals=2: ka's 3 distinct values overflow — dictionary None,
    // range pruning still works off the (exact) bounds
    assert(st.keys("ka").vals.isEmpty,
      "an over-cap dictionary must drop, not truncate")
    assert(SegmentStats.canMatch(Map("ka" -> "v2"), st),
      "range-covered equality must keep without the dictionary")
    assert(!SegmentStats.canMatch(Map("ka" -> "z9"), st),
      "out-of-range equality must still prune via the bounds")
    // same data at the defaults: complete keys, exact dictionaries, and
    // the dictionary DOES prune what the range alone could not
    val full = SegmentStats.compute(df)._2
    assert(full.keysComplete && full.keys("ka").vals.map(_.size) == Some(3))
    assert(!SegmentStats.canMatch(Map("ka" -> "v2x"), full),
      "the exact dictionary must prune an in-range non-member")
    assert(SegmentStats.canMatch(Map("ka" -> "v2x"), st),
      "without the dictionary the in-range non-member keeps (sound)")
    // the engine option threads the caps to every sidecar write
    val dir = java.nio.file.Files.createTempDirectory("stats_caps").toString
    val eng = new graft.memo.MemoEngine(spark, s"$dir/db",
      statsMaxKeys = 1, statsMaxVals = 2)
    eng.save("---\nbody: one\nmetadata: {ka: v1, kb: w1}\n" +
      "---\nbody: two\nmetadata: {ka: v2, kb: w1}\n" +
      "---\nbody: three\nmetadata: {ka: v3, kb: w2}\n")
    // the dropped key can't prune (incomplete set ⇒ sound keep) …
    assert(eng.segmentPrune("{kb: w9}") == (1, 1))
    // … while the kept key's exact bounds still do
    assert(eng.segmentPrune("{ka: z9}") == (0, 1))
    eng.clean()
  }

  test("numeric-operand compare keeps the string-valued side (P4)") {
    // value "9" is a STRING: $gte 10 compares str-lexicographically
    // ("9" >= "10" is true) — a mirror that only checked numeric bounds
    // would prune a matching segment
    val st = statsOf(Seq(Map("k" -> "9")))
    assert(SegmentStats.canMatch(Map("k" -> Map("$gte" -> 10)), st))
    // and the numeric side prunes when BOTH sides are out of range
    val st2 = statsOf(Seq(Map("k" -> 5)))
    assert(!SegmentStats.canMatch(Map("k" -> Map("$gte" -> 10)), st2))
    assert(SegmentStats.canMatch(Map("k" -> Map("$lte" -> 10)), st2))
  }

  test("missing key prunes only when the key set is complete") {
    val st = statsOf(Seq(Map("a" -> 1)))
    assert(!SegmentStats.canMatch(Map("zz" -> 1), st))
    assert(SegmentStats.canMatch(Map("zz" -> 1),
      st.copy(keysComplete = false)))
  }

  test("$contains prunes list-free segments and via the element dict") {
    val noLists = statsOf(Seq(Map("k" -> "x")))
    assert(!SegmentStats.canMatch(Map("k" -> Map("$contains" -> "x")), noLists))
    val withList = statsOf(Seq(Map("k" -> List("x", "y"))))
    // the element dictionary knows the exact element universe: an
    // absent operand prunes, a present one keeps
    assert(!SegmentStats.canMatch(Map("k" -> Map("$contains" -> "q")), withList))
    assert(SegmentStats.canMatch(Map("k" -> Map("$contains" -> "y")), withList))
    // bare equality on a list matches ELEMENTS: dict-exact both ways
    assert(SegmentStats.canMatch(Map("k" -> "x"), withList))
    assert(!SegmentStats.canMatch(Map("k" -> "zz"), withList))
    // an unknown element dict (capped out) keeps everything
    val blind = withList.copy(keys = withList.keys.map { case (k, s) =>
      k -> s.copy(elems = None) })
    assert(SegmentStats.canMatch(Map("k" -> Map("$contains" -> "q")), blind))
    assert(SegmentStats.canMatch(Map("k" -> "zz"), blind))
  }

  test("value dictionaries prune equality inside overlapping ranges") {
    // values {"apple", "zebra"}: the str() RANGE spans everything, the
    // DICTIONARY still prunes the miss — the uncorrelated-layout case
    // range bounds can never prune
    val st = statsOf(Seq(Map("k" -> "apple"), Map("k" -> "zebra")))
    assert(!SegmentStats.canMatch(Map("k" -> "mango"), st))
    assert(SegmentStats.canMatch(Map("k" -> "zebra"), st))
    // typed coercion rides the dictionary: int 5 stores str() "5"
    val nums = statsOf(Seq(Map("k" -> 5)))
    assert(SegmentStats.canMatch(Map("k" -> "5"), nums))
    assert(!SegmentStats.canMatch(Map("k" -> "6"), nums))
  }

  test("a key past the dictionary cap falls back to range pruning") {
    val many = (0 until SegmentStats.MaxVals + 10)
      .map(i => Map[String, Any]("k" -> f"v$i%03d"))
    val st = statsOf(many)
    val ks = st.keys("k")
    assert(ks.vals == None, "cap overflow must drop the dictionary")
    // in-range miss: range can't prune it (sound, just weaker)
    assert(SegmentStats.canMatch(Map("k" -> "v000x"), st))
    // out-of-range still prunes
    assert(!SegmentStats.canMatch(Map("k" -> "zzz"), st))
  }

  test("$ne prunes only a degenerate all-equal scalar segment") {
    val allSame = statsOf(Seq(Map("k" -> "v"), Map("k" -> "v")))
    assert(!SegmentStats.canMatch(Map("k" -> Map("$ne" -> "v")), allSame))
    val mixed = statsOf(Seq(Map("k" -> "v"), Map("k" -> "w")))
    assert(SegmentStats.canMatch(Map("k" -> Map("$ne" -> "v")), mixed))
    // typed coercion: int 2 str()-equals operand "2"
    val coerced = statsOf(Seq(Map("k" -> 2)))
    assert(!SegmentStats.canMatch(Map("k" -> Map("$ne" -> "2")), coerced))
  }

  test("$prefix uses the string-typed class and the successor bound") {
    val st = statsOf(Seq(Map("k" -> "banana")))
    assert(SegmentStats.canMatch(Map("k" -> Map("$prefix" -> "ban")), st))
    assert(!SegmentStats.canMatch(Map("k" -> Map("$prefix" -> "bb")), st))
    assert(!SegmentStats.canMatch(Map("k" -> Map("$prefix" -> "az")), st))
    // an int 25 is not a str — no prefix match ever (P5)
    val numeric = statsOf(Seq(Map("k" -> 25)))
    assert(!SegmentStats.canMatch(Map("k" -> Map("$prefix" -> "2")), numeric))
    // empty prefix matches every string-typed value
    assert(SegmentStats.canMatch(Map("k" -> Map("$prefix" -> "")), st))
  }

  test("a NaN comparison operand mirrors Spark's NaN-largest ordering") {
    import spark.implicits._
    val st = statsOf(Seq(Map("k" -> 5)))             // numeric, no NaN
    val stNaN = statsOf(Seq(Map("k" -> Double.NaN))) // contains NaN
    val lteNaN = Map("k" -> Map("$lte" -> (Double.NaN: Any)))
    val gteNaN = Map("k" -> Map("$gte" -> (Double.NaN: Any)))
    // Spark orders NaN above every number: v <= NaN matches EVERY
    // numeric value (Java double compare would say false and prune a
    // segment full of matches); v >= NaN matches only NaN values
    assert(SegmentStats.canMatch(lteNaN, st))
    assert(!SegmentStats.canMatch(gteNaN, st))
    assert(SegmentStats.canMatch(gteNaN, stNaN))
    assert(SegmentStats.canMatch(lteNaN, stNaN))
    // differential: the compiled predicate agrees with the mirror
    val df = Seq(
      (0L, Map("k" -> MetaCodec.encode(5))),
      (1L, Map("k" -> MetaCodec.encode(Double.NaN)))).toDF("id", "metadata")
    assert(df.filter(FilterAlgebra.compile(lteNaN, col("metadata")))
      .select("id").as[Long].collect().toSet == Set(0L, 1L))
    assert(df.filter(FilterAlgebra.compile(gteNaN, col("metadata")))
      .select("id").as[Long].collect().toSet == Set(1L))
  }

  test("dictionary aggregation is scoped to the kept keys: driver " +
      "traffic stays MaxKeys-bounded under adversarial key fan-out") {
    // more distinct keys than the cap, each with a value: the dicts are
    // computed ONLY for the kept keys (the collect is ≤ MaxKeys ×
    // (MaxVals+1) strings by construction), and the kept keys' pruning
    // behavior is unchanged by the scoping
    val wide = (0 until SegmentStats.MaxKeys + 40)
      .map(i => Map[String, Any](f"key$i%03d" -> f"val$i%03d"))
    val st = statsOf(wide)
    assert(!st.keysComplete)
    assert(st.keys.size == SegmentStats.MaxKeys)
    st.keys.foreach { case (k, ks) =>
      val i = k.stripPrefix("key").toInt
      assert(ks.vals == Some(Set(f"val$i%03d")),
        s"kept key $k must still carry its exact dictionary")
    }
    val known = st.keys.keys.head
    val i = known.stripPrefix("key").toInt
    assert(SegmentStats.canMatch(Map(known -> f"val$i%03d"), st))
    assert(!SegmentStats.canMatch(Map(known -> "absent"), st))
  }

  test("supplementary-plane values survive the ordering mirror") {
    // pysMax is U+10000; a UTF-16 mirror would call it < U+E000 and
    // prune — Spark's UTF8 compare matches it
    val supp = new String(Character.toChars(0x10000))
    val st = statsOf(Seq(Map("k" -> supp)))
    val fm = Map("k" -> Map("$gte" -> ""))
    assert(SegmentStats.canMatch(fm, st))
    import spark.implicits._
    val df = Seq((0L, Map("k" -> MetaCodec.encode(supp))))
      .toDF("id", "metadata")
    assert(df.filter(FilterAlgebra.compile(fm, col("metadata"))).count() == 1)
  }

  test("the P11 gate prunes a metadata-less segment for ANY filter") {
    val st = statsOf(Seq(Map.empty[String, Any], Map.empty[String, Any]))
    assert(st.nMeta == 0)
    assert(!SegmentStats.canMatch(Map.empty[String, Any], st))
    assert(!SegmentStats.canMatch(Map("$or" -> List(Map("a" -> 1))), st))
  }

  test("key-set overflow marks incomplete; recorded keys still prune") {
    val wide = (0 until SegmentStats.MaxKeys + 8)
      .map(i => s"key$i" -> (i: Any)).toMap
    val st = statsOf(Seq(wide))
    assert(!st.keysComplete)
    assert(st.keys.size == SegmentStats.MaxKeys)
    // unknown key: cannot prune
    assert(SegmentStats.canMatch(Map("never-seen" -> 1), st))
    // a RECORDED key's stats are exact — value-range pruning still works
    val known = st.keys.keys.head
    assert(!SegmentStats.canMatch(
      Map(known -> "no-such-value-anywhere"), st))
  }

  // --------------------------------------------------- engine integration

  private def freshEngine(): MemoEngine = {
    val dir = Files.createTempDirectory("memo_skip").toString
    new MemoEngine(spark, s"$dir/db")
  }

  private def doc(body: String, cat: String): String =
    s"---\nbody: $body\nmetadata: {category: $cat, n: ${body.length}}\n"

  test("filtered analyze reads only the segments that can match") {
    val engine = freshEngine()
    engine.save(doc("alpha one", "a") + doc("alpha two", "a"))
    engine.save(doc("beta one", "b") + doc("beta two", "b"))
    engine.save(doc("gamma one", "c"))
    assert(engine.segmentPrune("category: b") == (1, 3))
    assert(engine.segmentPrune("category: zz") == (0, 3))
    assert(engine.segmentPrune("category: {$ne: zz}") == (3, 3))
    assert(engine.analyzeCount("category: b") == 2)
    assert(engine.analyzeCount("category: zz") == 0)
    // projection through the pruned path matches the unpruned frame
    val viaPruned = engine.analyzeProject("category: b", Seq("body"))
      .collect().map(_.toSeq).toSet
    val unpruned = graft.memo.MemoOps.analyzeProject(
      engine.records, "category: b", Seq("body")).collect()
      .map(_.toSeq).toSet
    assert(viaPruned == unpruned && viaPruned.nonEmpty)
    // recall with a filter returns the same rows pruned or not
    val r = engine.recall("beta", 5, Some("category: b"))
      .collect().map(_.getLong(0)).toSet
    assert(r == Set(2L, 3L))
    engine.clean()
  }

  test("a missing stats sidecar keeps the segment (pre-stats stores)") {
    val engine = freshEngine()
    engine.save(doc("alpha", "a"))
    engine.save(doc("beta", "b"))
    // simulate a pre-stats segment: drop one sidecar
    val segDir = Paths
      .get(engine.records.inputFiles.head.stripPrefix("file:")).getParent
    Files.delete(segDir.resolve("_metastats"))
    val (kept, total) = engine.segmentPrune("category: zz")
    assert(total == 2 && kept == 1, s"got ($kept, $total)")
    assert(engine.analyzeCount("category: a") == 1)
    engine.clean()
  }

  test("a segment written by another tool with an all-null key: the " +
      "compacting commit drops the key from its sidecar, marks the set " +
      "incomplete, and every filter answers as the unpruned scan") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    val engine = freshEngine()
    engine.save(doc("alpha one", "a") + doc("alpha two", "a"))
    engine.save(doc("beta one", "b") + doc("beta two", "b"))
    def segDirs(): Seq[java.nio.file.Path] = engine.records.inputFiles.toSeq
      .map(f => Paths.get(f.stripPrefix("file:")).getParent).distinct.sorted
    // rewrite the second segment as another tool would: the same rows
    // plus a key "nk" whose every value is a null map value, under new
    // file names and with no stats sidecar (the id range is kept)
    val seg = segDirs().last
    val rows = spark.read.schema(graft.memo.YamlIO.recordSchema)
      .parquet(seg.toString).collect().toSeq.map(r => Row(r.getLong(0),
        r.getString(1), r.getMap[String, String](2).toMap +
          ("nk" -> (null: String))))
    val out = Files.createTempDirectory("foreign_seg").resolve("out")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      graft.memo.YamlIO.recordSchema).write.parquet(out.toString)
    Files.list(seg).iterator().asScala.toSeq
      .filter(_.getFileName.toString != "_idrange").foreach(Files.delete)
    Files.list(out).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, seg.resolve("foreign-" + p.getFileName)))
    // the CURRENT stamp keys the engine's scan memo: move it so no plan
    // over the old file listing is reused
    val current = Paths.get(engine.records.inputFiles.head
      .stripPrefix("file:")).getParent.getParent.getParent.resolve("CURRENT")
    Files.setLastModifiedTime(current, java.nio.file.attribute.FileTime
      .fromMillis(Files.getLastModifiedTime(current).toMillis + 5000))
    // the compacting commit computes the new segment's sidecar over the
    // null-valued key (the sidecar write used to throw on its null bound)
    engine.reindex()
    val st = SegmentStats.decode(Files.readString(
      segDirs().head.resolve("_metastats"))).get
    assert(!st.keysComplete && !st.keys.contains("nk") &&
      st.keys.contains("category"), st)
    engine.save(doc("gamma one", "c"))
    // recorded keys still prune the compacted segment; the dropped key
    // keeps it (unknown), and the complete gamma segment prunes on it
    assert(engine.segmentPrune("category: c") == (1, 2))
    assert(engine.segmentPrune("nk: x") == (1, 2))
    for (f <- Seq("nk: x", "nk: {$ne: x}", "category: a", "category: c",
        "category: {$ne: a}", "{nk: x, category: b}",
        "{$or: [{nk: x}, {category: b}]}")) {
      val pruned = engine.analyzeProject(f, Seq("id"))
        .collect().map(_.getLong(0)).toSeq
      val unpruned = graft.memo.MemoOps.analyzeProject(
        engine.records, f, Seq("id")).collect().map(_.getLong(0)).toSeq
      assert(pruned == unpruned, s"filter $f")
      assert(engine.analyzeCount(f) == unpruned.size, s"filter $f")
    }
    assert(engine.analyzeCount("category: {$ne: a}") == 3)
    engine.clean()
  }

  test("patch commits write stats; pruning tracks the patched values") {
    import spark.implicits._
    val engine = freshEngine()
    engine.save(doc("one", "a") + doc("two", "a"))
    engine.save(doc("three", "b"))
    // move doc 0 into category "moved" via a CDC patch commit
    engine.applyChanges(Seq((0L, "updated", "one moved",
        Map("category" -> "smoved")))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    assert(engine.analyzeCount("category: moved") == 1)
    val (kept, total) = engine.segmentPrune("category: moved")
    assert(kept < total, s"patch segment stats should prune: ($kept, $total)")
    assert(engine.analyzeCount("category: a") == 1) // survivor stayed
    engine.clean()
  }

  test("clusterBy fixes an uncorrelated layout; content and index intact") {
    val engine = freshEngine()
    // three saves, each MIXING all three categories: ingest order never
    // correlates with the filter key, so stats cannot prune anything
    (0 until 3).foreach { s =>
      engine.save(Seq("a", "b", "c").map(c =>
        doc(s"batch $s about $c topic", c)).mkString)
    }
    assert(engine.segmentPrune("category: b") == (3, 3))
    val before = engine.records
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val countB = engine.analyzeCount("category: b")
    val recallB = engine.recall("topic", 9, Some("category: b"))
      .collect().map(_.getLong(0)).toSet
    val embeds0 = graft.functions.VectorKernels.embedCalls.get()
    engine.clusterBy("category", nClusters = 3)
    // zero re-embedding: the index rode the rewrite by id
    assert(graft.functions.VectorKernels.embedCalls.get() == embeds0,
      "clusterBy must not re-embed anything")
    // the layout now correlates with the key — stats prune
    val (kept, total) = engine.segmentPrune("category: b")
    assert(total >= 2 && kept < total,
      s"clustered layout should prune: ($kept, $total)")
    // same rows, same filtered count, same filtered recall
    assert(engine.records.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == before)
    assert(engine.analyzeCount("category: b") == countB)
    assert(engine.recall("topic", 9, Some("category: b"))
      .collect().map(_.getLong(0)).toSet == recallB)
    // the clustered store remains a normal chain: appends extend it and
    // a CDC patch against it converges
    engine.save(doc("post-cluster append", "d"))
    assert(engine.analyzeCount("category: d") == 1)
    import spark.implicits._
    engine.applyChanges(Seq((1L, "updated", "post-cluster update",
        Map("category" -> "se")))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    assert(engine.analyzeCount("category: e") == 1)
    assert(engine.analyzeCount("category: b") == countB - 1)
    engine.clean()
  }

  test("clusterBoundaries under the numeric order dedups by PARSED value " +
      "— '1' and '1.0' are ONE boundary, no empty grid cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val engine = freshEngine()
    // distinct STRINGS, duplicate NUMBERS: every value has two renderings
    val vals = Seq("1", "1.0", "2", "2.0", "3", "3.0", "4", "4.0")
    val recs = vals.toDF("v")
    val (bs, numeric) = engine.clusterBoundaries(recs, col("v"), 4)
    assert(numeric, "all-parsable sample must read as numeric")
    assert(bs.map(_.toDouble).distinct.size == bs.size,
      s"numeric boundaries must be value-distinct, got $bs")
    // the degenerate case: one numeric value in two renderings yields at
    // most ONE boundary, never a duplicated pair
    val (bs1, _) = engine.clusterBoundaries(
      Seq("1", "1.0").toDF("v"), col("v"), 4)
    assert(bs1.map(_.toDouble).distinct.size == bs1.size &&
      bs1.size <= 1,
      s"duplicate renderings must collapse to one boundary, got $bs1")
    // non-numeric samples keep the code-point order and string dedup
    val (bsS, numS) = engine.clusterBoundaries(
      Seq("a", "b", "c", "d").toDF("v"), col("v"), 2)
    assert(!numS && bsS.nonEmpty)
    engine.clean()
  }

  test("metaStatsSidecars=false: no stats write, segments soundly unprunable") {
    val dir = Files.createTempDirectory("memo_nostats").toString
    val engine = new MemoEngine(spark, s"$dir/db",
      metaStatsSidecars = false)
    engine.save(doc("alpha one", "a"))
    engine.save(doc("beta two", "b"))
    // the id-range sidecar (the patch arm's pruning) still writes; the
    // stats sidecar (filtered-read skipping) does not
    val segs = engine.records.inputFiles
      .map(f => Paths.get(f.stripPrefix("file:")).getParent).distinct
    assert(segs.nonEmpty)
    segs.foreach { s =>
      assert(Files.exists(s.resolve("_idrange")), s"missing _idrange in $s")
      assert(!Files.exists(s.resolve("_metastats")),
        s"escape hatch still wrote _metastats in $s")
    }
    // missing sidecars read as "unprunable" — every segment kept, and
    // the filtered read stays CORRECT (predicate still runs)
    assert(engine.segmentPrune("category: b") == (2, 2))
    assert(engine.analyzeCount("category: b") == 1)
    assert(engine.analyzeCount("category: a") == 1)
    engine.clean()
  }

  test("clusterBy on an all-numeric key lays out in NUMERIC order, so " +
      "numeric-range filters prune to contiguous segments") {
    val engine = freshEngine()
    val n = 120
    // a hash-shuffled permutation of 0..119 saved across four segments:
    // ingest never correlates with the key, and every value is a YAML
    // INT so the key is numeric-typed end to end (code-point order
    // would scatter 90..119 into two regions — "90".."99" sort after
    // "9" but "100".."119" sort before "2")
    val order = (0 until n).sortBy(i => (i * 37) % n)
    (0 until 4).foreach { s =>
      engine.save(order.slice(s * 30, (s + 1) * 30).map(i =>
        s"---\nbody: numeric note $i\nmetadata: {num: $i}\n").mkString)
    }
    assert(engine.segmentPrune("num: {$gte: 90}") == (4, 4),
      "uncorrelated ingest should be unprunable")
    val count = engine.analyzeCount("num: {$gte: 90}")
    assert(count == 30)
    // the algebra takes ranges as $and of single-operator maps (a
    // multi-op map is malformed → matches nothing, P12)
    val band = "$and: [{num: {$gte: 30}}, {num: {$lte: 59}}]"
    assert(engine.analyzeCount(band) == 30)
    engine.clusterBy("num", nClusters = 4)
    // the top numeric quarter is ~one contiguous cluster (the range
    // partitioner's sampled quartiles can straddle one boundary)
    val (kept, total) = engine.segmentPrune("num: {$gte: 90}")
    assert(total == 4 && kept >= 1 && kept <= 2,
      s"numeric layout should prune the top quarter: ($kept, $total)")
    // a MID-range band prunes too — code-point order would scatter
    // 30..59 among 3,30,…,4,40,…: most clusters would hold a piece
    val (keptMid, _) = engine.segmentPrune(band)
    assert(keptMid >= 1 && keptMid <= 2,
      s"numeric layout should prune a mid band: got $keptMid of $total")
    // semantics untouched on the new layout
    assert(engine.analyzeCount("num: {$gte: 90}") == count)
    assert(engine.analyzeCount(band) == 30)
    engine.clean()
  }

  test("multi-key clusterBy grids a numeric dimension numerically") {
    val engine = freshEngine()
    // ka: 4 string values striding; num: ints 0..31 hash-spread (7 is
    // coprime to 128, so every segment of 32 consecutive ids sees the
    // whole numeric range and neither key correlates with save order)
    val n = 128
    (0 until 4).foreach { s =>
      engine.save((s * 32 until (s + 1) * 32).map { i =>
        s"---\nbody: zgrid note $i text\n" +
          s"metadata: {ka: a${i % 4}, num: ${(i * 7 % 128) / 4}}\n"
      }.mkString)
    }
    val band = "$and: [{num: {$gte: 24}}, {num: {$lte: 31}}]"
    assert(engine.segmentPrune(band) == (4, 4))
    val countBand = engine.analyzeCount(band)
    assert(countBand == n / 4)
    engine.clusterBy(Seq("ka", "num"), nClusters = 16)
    // the z layout's numeric grid keeps the top numeric band contiguous
    // on its dimension: a band filter prunes to at most half — under a
    // code-point grid 24..31 share cells with nothing (3,30,31 vs 24)
    // but 8..9 would interleave with 30..31's cells
    val (keptB, totalB) = engine.segmentPrune(band)
    assert(totalB >= 8 && keptB * 2 <= totalB,
      s"z numeric grid should prune the band: ($keptB, $totalB)")
    // the COARSE key prunes from the SAME layout — the cell-scaling
    // claim: without spreading ka's 4 cells across the bit range, its
    // variation sits at the z value's least-significant bits and the
    // 32-value num dim absorbs every partition split (measured 16/16
    // kept). Against a dim 8× finer the split is still num-dominated,
    // so the pin is strict pruning, not a ratio.
    val (keptA, totalA) = engine.segmentPrune("ka: a1")
    assert(keptA < totalA,
      s"z layout should still prune the string key: ($keptA, $totalA)")
    assert(engine.analyzeCount(band) == countBand)
    assert(engine.analyzeCount("ka: a1") == n / 4)
    engine.clean()
  }

  test("multi-key clusterBy: one Z-order layout prunes filters on BOTH keys") {
    val engine = freshEngine()
    // 128 docs over a 4×4 uncorrelated key grid (ka = i%4 strides, kb
    // walks i/4 — no functional relation between the two), saved in id
    // order so NEITHER key correlates with the ingest layout
    val n = 128
    (0 until 4).foreach { s =>
      engine.save((s * 32 until (s + 1) * 32).map { i =>
        s"---\nbody: grid note $i text\n" +
          s"metadata: {ka: a${i % 4}, kb: b${(i / 4) % 4}}\n"
      }.mkString)
    }
    assert(engine.segmentPrune("ka: a1") == (4, 4))
    assert(engine.segmentPrune("kb: b2") == (4, 4))
    val before = engine.records
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val countA = engine.analyzeCount("ka: a1")
    val countB = engine.analyzeCount("kb: b2")
    assert(countA == n / 4 && countB == n / 4)
    engine.clusterBy(Seq("ka", "kb"), nClusters = 16)
    // the single layout prunes selective filters on EITHER key — the
    // thing no 1-key range clustering can do (clustering on ka alone
    // leaves kb uncorrelated and unprunable)
    val (keptA, totalA) = engine.segmentPrune("ka: a1")
    val (keptB, totalB) = engine.segmentPrune("kb: b2")
    assert(totalA >= 8 && keptA * 2 <= totalA,
      s"z-layout should prune ka: ($keptA, $totalA)")
    assert(totalB >= 8 && keptB * 2 <= totalB,
      s"z-layout should prune kb: ($keptB, $totalB)")
    // semantics untouched: same rows, same filtered counts, and a
    // conjunction of both keys still answers correctly off the z layout
    assert(engine.records.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == before)
    assert(engine.analyzeCount("ka: a1") == countA)
    assert(engine.analyzeCount("kb: b2") == countB)
    assert(engine.analyzeCount("{ka: a1, kb: b2}") == n / 16)
    val (keptAB, _) = engine.segmentPrune("{ka: a1, kb: b2}")
    assert(keptAB <= keptA && keptAB <= keptB,
      s"conjunction must prune at least as hard: $keptAB vs $keptA/$keptB")
    engine.clean()
  }

  test("filtered recall prunes the INDEX side through manifest pairing") {
    val engine = freshEngine()
    engine.save(doc("alpha topic", "a"))
    engine.save(doc("beta topic", "b"))
    engine.save(doc("gamma topic", "c"))
    // poison the index segment PAIRED with the 'c' records segment: an
    // unfiltered recall must fail loudly reading it, while a recall
    // filtered to 'a' never touches it — the sharp proof the pruned
    // plan lists fewer index files, not just fewer matching rows
    val v2recs = engine.records.inputFiles.map(_.stripPrefix("file:"))
      .find(_.contains("/v2/")).get
    val idxDir = Paths.get(v2recs).getParent.getParent.resolve("index")
    Files.list(idxDir).forEach(p =>
      if (p.getFileName.toString.endsWith(".parquet")) Files.delete(p))
    Files.writeString(idxDir.resolve("part-poison.parquet"),
      "not a parquet file")
    val viaPruned = engine.recall("topic", 3, Some("category: a"))
      .collect().map(_.getLong(0)).toSet
    assert(viaPruned == Set(0L))
    intercept[Exception] {
      engine.recall("topic", 3, None).collect()
    }
    engine.clean()
  }

  test("stats sidecars are read once per segment, then served memoized") {
    val engine = freshEngine()
    (0 until 4).foreach(s => engine.save(doc(s"doc $s", s"c$s")))
    val r0 = engine.statsSidecarReads.get()
    assert(engine.segmentPrune("category: c2") == (1, 4))
    val afterFirst = engine.statsSidecarReads.get()
    assert(afterFirst - r0 == 4, s"expected 4 sidecar reads, " +
      s"got ${afterFirst - r0}")
    // different filters, same segments: zero further file reads
    assert(engine.segmentPrune("category: c0") == (1, 4))
    assert(engine.analyzeCount("category: c3") == 1)
    assert(engine.statsSidecarReads.get() == afterFirst)
    // a NEW segment pays exactly one more read
    engine.save(doc("fresh", "c9"))
    assert(engine.segmentPrune("category: c9") == (1, 5))
    assert(engine.statsSidecarReads.get() == afterFirst + 1)
    engine.clean()
  }

  test("statsCache eviction is generation-scoped: an over-threshold " +
      "chain keeps its live working set, churn history is dropped") {
    val engine = freshEngine()
    engine.statsCacheMax = 3
    (0 until 5).foreach(s => engine.save(doc(s"doc $s", s"c$s")))
    assert(engine.segmentPrune("category: c0") == (1, 5))
    val afterSweep = engine.statsSidecarReads.get()
    // the cache is over the threshold but every entry is LIVE: nothing
    // evicts, the next sweep is fully memoized (a wholesale clear — or
    // an LRU sequentially thrashed by the sweep — would re-pay all 5)
    assert(engine.segmentPrune("category: c4") == (1, 5))
    assert(engine.statsSidecarReads.get() == afterSweep,
      "a live over-threshold chain must stay fully memoized")
    assert(engine.statsCacheSize == 5)
    // a rewrite makes the old dirs stale: the next over-threshold sweep
    // drops exactly them, so the cache tracks the live chain's size
    engine.reindex()
    assert(engine.segmentPrune("category: c1") == (1, 1))
    assert(engine.statsSidecarReads.get() == afterSweep + 1,
      "the rewritten chain costs one new sidecar read")
    assert(engine.statsCacheSize == 1,
      "stale pre-rewrite entries must be evicted, not retained forever")
    engine.clean()
    // the same churn seen only by UNFILTERED serving (the router's row
    // bound reads every live sidecar, no filter ever prunes): the
    // rewritten chain's dead dirs must still be evicted
    val served = freshEngine()
    served.statsCacheMax = 3
    (0 until 5).foreach(s => served.save(doc(s"doc $s", s"c$s")))
    served.recallServe("doc", k = 3).collect()
    served.reindex()
    served.recallServe("doc", k = 3).collect()
    assert(served.statsCacheSize == 1,
      "unfiltered serving must evict stale pre-rewrite entries too")
    served.clean()
  }

  test("restore writes sidecars: the restored snapshot stays prunable") {
    val engine = freshEngine()
    engine.save(doc("alpha", "a"))
    engine.save(doc("beta", "b"))
    val v = engine.versions.max
    engine.save(doc("gamma", "c"))
    engine.restore(v)
    // one restored snapshot segment, with stats: an impossible filter
    // prunes it
    assert(engine.segmentPrune("category: zz") == (0, 1))
    assert(engine.analyzeCount("category: b") == 1)
    engine.clean()
  }
}
