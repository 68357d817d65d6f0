package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.memo.{MemoEngine, OpTrace}

/** Incremental materialized views ([[MemoEngine.viewState]]): a persisted
  * group-by aggregate maintained O(delta) from the store's changefeed.
  * Every test pins BOTH correctness (incremental state equals a direct
  * group-by over the live records) and the cost class (which files the
  * refresh actually scanned — delta segments for appends, the
  * materialized feed for patch commits, never the base snapshot).
  */
class MemoViewSpec extends SparkTestBase {

  private val Chars = Seq("chars" -> "length(body)")

  private def freshEngine(): (MemoEngine, String) = {
    val dir = Files.createTempDirectory("memo_view").toString
    (new MemoEngine(spark, s"$dir/db"), s"$dir/db")
  }

  /** The oracle: the same aggregate computed directly over live records. */
  private def direct(engine: MemoEngine, groupKey: String): Set[(String, Long, Long)] =
    engine.records
      .groupBy(expr(groupKey).cast("string").as("group_key"))
      .agg(count(lit(1)).as("doc_count"),
        sum(coalesce(expr("length(body)").cast("long"), lit(0L))).as("chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  private def collected(df: DataFrame): Set[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** The trace of this spec's last view call, run through [[viewed]];
    * [[mode]], [[scanned]] and [[published]] read that call's
    * decisions. */
  private var viewTrace: OpTrace = new OpTrace

  private def viewed[A](call: => A): A = {
    val (out, trace) = OpTrace.traced(call)
    viewTrace = trace
    out
  }

  private def mode: String =
    viewTrace.viewRefresh.map(_._1).getOrElse("none")

  private def scanned: Seq[String] =
    viewTrace.viewRefresh.map(_._2).getOrElse(Nil)

  private def published: (Int, Int) = viewTrace.viewPublish.get

  private def yamlDoc(body: String, cat: Option[String]): String =
    cat match {
      case Some(c) => s"---\nbody: $body\nmetadata: {category: $c}\n"
      case None => s"---\nbody: $body\n"
    }

  test("view equals a direct group-by; a fresh view serves without work") {
    val (engine, _) = freshEngine()
    engine.save(Seq(
      yamlDoc("peanut allergy note", Some("health")),
      yamlDoc("dark mode preferred", Some("ui")),
      yamlDoc("no category on this one", None),
      yamlDoc("second health note here", Some("health"))).mkString)
    val key = "metadata['category']"
    val v1 = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "rebuild") // first materialization pays the scan
    assert(collected(v1) == direct(engine, key))
    // the null group (docs without the key) is one merged row, not a row
    // per refresh
    assert(v1.filter(col("group_key").isNull).count() == 1)
    val v2 = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "fresh", "watermark-current view must serve lock-free")
    assert(collected(v2) == direct(engine, key))
    engine.clean()
  }

  test("append refresh is O(delta): scans ONLY the new segments") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlDoc("first note body", Some("a")) +
      yamlDoc("uncategorized one", None))
    viewed(engine.viewState("bycat", key, Chars))
    engine.save(yamlDoc("second commit note", Some("a")) +
      yamlDoc("third with new group", Some("b")) +
      yamlDoc("another uncategorized", None))
    val v = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "incremental")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/v1/")),
      s"append refresh must read only v1's delta: ${scanned}")
    assert(collected(v) == direct(engine, key))
    // two appends behind: a multi-step walk stays incremental
    engine.save(yamlDoc("fourth note here", Some("b")))
    engine.save(yamlDoc("fifth and last", Some("c")))
    val v2 = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "incremental")
    assert(scanned.forall(f => f.contains("/v2/") || f.contains("/v3/")),
      s"two-step refresh must read only v2+v3 deltas: ${scanned}")
    assert(collected(v2) == direct(engine, key))
    assert(v2.filter(col("group_key").isNull).count() == 1)
    engine.clean()
  }

  test("a clusterBy rewrite converges the view via the honest-rebuild arm") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlDoc("alpha one", Some("a")) + yamlDoc("beta one", Some("b")))
    engine.save(yamlDoc("alpha two", Some("a")) + yamlDoc("gamma one", Some("c")))
    viewed(engine.viewState("bycat", key, Chars))
    // the re-layout is a rewrite commit: manifests don't extend, so the
    // walk must take the captured-version recompute, never serve stale
    engine.clusterBy("category", nClusters = 3)
    val v = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "rebuild",
      s"a cluster rewrite must rebuild, got ${mode}")
    assert(collected(v) == direct(engine, key))
    // and the clustered chain maintains incrementally from there
    engine.save(yamlDoc("delta one", Some("d")))
    val v2 = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "incremental")
    assert(collected(v2) == direct(engine, key))
    engine.clean()
  }

  test("patch refresh retracts from the materialized feed, not the corpus") {
    val (engine, base) = freshEngine()
    val key = "metadata['category']"
    // three segments so the update lands as a segment-pruned PATCH commit
    engine.save((0 until 4).map(i => yamlDoc(s"note number $i words", Some("a"))).mkString)
    engine.save((4 until 8).map(i => yamlDoc(s"note number $i words", Some("b"))).mkString)
    engine.save((8 until 12).map(i => yamlDoc(s"note number $i words", Some("c"))).mkString)
    viewed(engine.viewState("bycat", key, Chars))
    // one update that MOVES a row between groups (b -> moved) and one remove
    import spark.implicits._
    // metadata arrives pre-encoded on the CDC path (the store's typed
    // encoding: strings carry the 's' prefix, YamlIO.coerce)
    val feed = Seq(
      (5L, "updated", "rewritten body text", Map("category" -> "smoved")),
      (9L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    engine.applyChanges(feed)
    // pin the premise: the merge really was segment-pruned (manifest keeps
    // untouched segments by reference), so the feed sidecar exists
    val mf = Files.readAllLines(java.nio.file.Paths.get(base)
      .resolve(s"v${engine.versions.max}").resolve("records.manifest"))
    assert(mf.size() < 4, s"expected a pruned manifest, got $mf")
    val feedDir = java.nio.file.Paths.get(base)
      .resolve(s"v${engine.versions.max}").resolve("changefeed")
    assert(Files.exists(feedDir.resolve("_prev")), "patch feed must carry prev")
    // the persisted feed carries the FROM side for updated rows
    val prev = spark.read.schema(MemoEngine.FeedWithPrevSchema)
      .parquet(feedDir.toString)
      .filter(col("change") === "updated").collect()
    assert(prev.length == 1 && prev(0).getString(4) == "note number 5 words")
    val v = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "incremental")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/changefeed/")),
      s"patch refresh must read only the feed: ${scanned}")
    assert(collected(v) == direct(engine, key))
    // the retraction really moved the group: b lost a row, moved gained
    // one, c lost the removed row (group values carry the store's typed
    // string encoding, hence the 's' prefix)
    assert(v.filter(col("group_key") === "smoved").count() == 1)
    assert(collected(v).find(_._1 == "sb").map(_._2).contains(3L))
    assert(collected(v).find(_._1 == "sc").map(_._2).contains(3L))
    engine.clean()
  }

  test("rewrite commits (reindex, restore) fall back to a full recompute") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlDoc("first note", Some("a")) + yamlDoc("second note", Some("b")))
    engine.save(yamlDoc("third note", Some("a")))
    viewed(engine.viewState("bycat", key, Chars))
    engine.save("---\nid: 1\nbody: gone\nmetadata: {deleted: true}\n")
    engine.reindex() // re-sequences ids, compacts the chain
    val v = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "rebuild",
      "a reindex rewrite cannot be proven incremental and must recompute")
    assert(collected(v) == direct(engine, key))
    val restored = engine.restore(engine.versions.head)
    assert(restored > 0)
    val v2 = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "rebuild")
    assert(collected(v2) == direct(engine, key))
    engine.clean()
  }

  test("changing the spec under the same name rebuilds, same spec reuses") {
    val (engine, _) = freshEngine()
    engine.save(yamlDoc("alpha note", Some("x")) + yamlDoc("beta note", Some("y")))
    viewed(engine.viewState("v", "metadata['category']", Chars))
    assert(mode == "rebuild")
    // same name, different group key: detected, recomputed under new spec
    val byLen = viewed(engine.viewState("v", "CAST(length(body) % 2 AS STRING)", Chars))
    assert(mode == "rebuild")
    assert(collected(byLen) == direct(engine, "CAST(length(body) % 2 AS STRING)"))
    // and back: the spec is recorded verbatim, so this rebuilds again
    viewed(engine.viewState("v", "metadata['category']", Chars))
    assert(mode == "rebuild")
    engine.clean()
  }

  test("a commit racing the refresh lands AFTER the captured watermark") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlDoc("first note", Some("a")))
    viewed(engine.viewState("bycat", key, Chars))
    engine.save(yamlDoc("second note", Some("b")))
    // interleave a foreign commit inside the locked refresh window: the
    // refresh must aggregate the version it CAPTURED, never the live view
    engine.beforeViewBuildHook =
      () => { engine.save(yamlDoc("racing note", Some("c"))); () }
    try {
      val v = viewed(engine.viewState("bycat", key, Chars))
      assert(collected(v).map(_._1) == Set("sa", "sb"),
        "refresh must not see the commit that raced it")
    } finally engine.beforeViewBuildHook = () => ()
    // the next call catches up incrementally with the raced commit
    val v2 = viewed(engine.viewState("bycat", key, Chars))
    assert(mode == "incremental")
    assert(collected(v2) == direct(engine, key))
    assert(collected(v2).map(_._1) == Set("sa", "sb", "sc"))
    engine.clean()
  }

  // ---- MIN/MAX measures (the non-additive aggregate class) ---------------

  /** Weight as a BIGINT-castable expression: metadata ints are stored in
    * the typed encoding ("i7"), so the digits are regexp-extracted. */
  private val W = "regexp_extract(metadata['weight'], '^i?(-?\\\\d+)$', 1)"

  private def yamlW(body: String, cat: String, w: Int): String =
    s"---\nbody: $body\nmetadata: {category: $cat, weight: $w}\n"

  private val MM = Seq("hi" -> W, "lo" -> W)
  private val MMAggs = Map("hi" -> "max", "lo" -> "min")

  /** Direct oracle for the min/max view, same null-as-zero coercion. */
  private def directW(engine: MemoEngine, key: String): Set[(String, Long, Long, Long)] =
    engine.records
      .groupBy(expr(key).cast("string").as("group_key"))
      .agg(count(lit(1)).as("doc_count"),
        max(coalesce(expr(s"try_cast(($W) AS BIGINT)"), lit(0L))).as("hi"),
        min(coalesce(expr(s"try_cast(($W) AS BIGINT)"), lit(0L))).as("lo"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private def collectedW(df: DataFrame): Set[(String, Long, Long, Long)] =
    df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("min/max measures: adds, covered retractions, AND reserve-covered " +
      "champion retractions all stay O(delta)") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    // three segments so later updates land as segment-pruned patches
    engine.save(yamlW("a zero", "a", 5) + yamlW("a one", "a", 9) +
      yamlW("a two", "a", 3) + yamlW("b zero", "b", 4)) // v0: ids 0-3
    engine.save(yamlW("a three", "a", 7) + yamlW("b one", "b", 6)) // v1: 4,5
    engine.save(yamlW("b two", "b", 2)) // v2: id 6
    val v = viewed(engine.viewState("mm", key, MM, MMAggs))
    assert(mode == "rebuild")
    assert(collectedW(v) == directW(engine, key))
    // append: extremes are insert-monotone — incremental, delta scan only
    engine.save(yamlW("a four", "a", 11)) // v3: id 7, new champion for a.hi
    val v2 = viewed(engine.viewState("mm", key, MM, MMAggs))
    assert(mode == "incremental")
    assert(scanned.nonEmpty && scanned.forall(_.contains("/v3/")),
      s"append refresh must read only v3's delta: ${scanned}")
    assert(collectedW(v2) == directW(engine, key))
    assert(collectedW(v2).find(_._1 == "sa").get._3 == 11L)
    // patch retracting a NON-champion (a-one's 9 drops to 1 while 11
    // reigns): the stored-extreme test proves the merge safe — no rescan.
    // The add side lowers the group min in place (1 < 3).
    import spark.implicits._
    val feed1 = Seq((1L, "updated", "a one lowered",
        Map("category" -> "sa", "weight" -> "i1")))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    engine.applyChanges(feed1)
    val v3 = viewed(engine.viewState("mm", key, MM, MMAggs))
    assert(mode == "incremental",
      "a retraction missing the stored champion must not rescan")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/changefeed/")),
      s"covered retraction must read only the feed: ${scanned}")
    assert(collectedW(v3) == directW(engine, key))
    assert(collectedW(v3).find(_._1 == "sa").get._4 == 1L)
    // remove the champion (id 7, weight 11) with no covering add: the
    // RESERVE already holds the runner-up, so even this stays O(delta) —
    // feed-only scan, champion falls to 7
    val feed2 = Seq((7L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    engine.applyChanges(feed2)
    val v4 = viewed(engine.viewState("mm", key, MM, MMAggs))
    assert(mode == "incremental",
      "a reserve-covered champion retraction must stay O(delta)")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/changefeed/")),
      s"champion retraction must read only the feed: ${scanned}")
    assert(collectedW(v4) == directW(engine, key))
    assert(collectedW(v4).find(_._1 == "sa").get._3 == 7L)
    // group b's extremes were never touched and still agree
    assert(collectedW(v4).find(_._1 == "sb").get._3 == 6L)
    engine.clean()
  }

  test("a value added and retracted across steps of ONE refresh window " +
      "leaves no phantom in the reserve") {
    import spark.implicits._
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlW("p zero", "p", 10) + yamlW("p one", "p", 9))
    engine.save(yamlW("p two", "p", 8)) // 2 segments: patches prune
    viewed(engine.viewState("ph", key, MM, MMAggs)) // watermark here
    def upd(id: Long, cat: String, w: Int): Unit =
      engine.applyChanges(Seq((id, "updated", s"ph upd $id $w",
          Map("category" -> s"s$cat", "weight" -> s"i$w")))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    // TWO patch commits, NO refresh between them: the window's delta
    // contains +50 (step 1) and -50 (step 2) for the same row — they
    // must cancel at the VALUE level, not slip past the stored reserve
    upd(0L, "p", 50) // row 0: 10 -> 50 (would-be champion)
    upd(0L, "p", 7)  // row 0: 50 -> 7 (the 50 never survives the window)
    val v = viewed(engine.viewState("ph", key, MM, MMAggs))
    assert(mode == "incremental", s"got ${mode}")
    assert(collectedW(v) == directW(engine, key),
      "cross-step add+retract must cancel in the reserve")
    assert(collectedW(v).find(_._1 == "sp").get._3 == 9L,
      "the transient 50 must not be served as the group max")
    // same shape for a brand-NEW group appearing and dying in-window:
    // q gains 40 then loses its only row — the group must vanish, and
    // p's retraction of 9 must still land against the refilled reserve
    upd(1L, "q", 40) // row 1: group p -> q, weight 9 -> 40
    engine.applyChanges(Seq((1L, "removed", "",
        Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v2 = viewed(engine.viewState("ph", key, MM, MMAggs))
    assert(collectedW(v2) == directW(engine, key),
      "an in-window add+remove of the same row must cancel")
    assert(!collectedW(v2).exists(_._1 == "sq"),
      "a group born and emptied inside one window must not be served")
    assert(collectedW(v2).find(_._1 == "sp").get._3 == 8L)
    engine.clean()
  }

  test("a capped-out in-window add survives the merge: retracting a " +
      "kept top add must not forget its runner-up") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo_view_cap").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewReserveK = 2)
    val key = "metadata['category']"
    def rm(ids: Seq[Long]): Unit = engine.applyChanges(
      ids.map(id => (id, "removed", "", Map.empty[String, String]))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    def idOf(w: Int): Long = engine.records
      .filter(expr(s"try_cast(($W) AS BIGINT)") === w)
      .agg(max("id")).collect()(0).getLong(0)
    // group c: committed values 10, 9 -> k=2 reserve [10, 9]
    engine.save(yamlW("c zero", "c", 10) + yamlW("c one", "c", 9))
    engine.save(yamlW("d zero", "d", 28) + yamlW("d one", "d", 10))
    viewed(engine.viewState("cap", key, MM, MMAggs)) // watermark
    // ONE window, two steps: append THREE c-values (30, 29, 28 — more
    // than k, so an add side capped at k before netting would forget
    // the 28) then retract the kept top add (30)
    engine.save(yamlW("c two", "c", 30) + yamlW("c three", "c", 29) +
      yamlW("c four", "c", 28))
    rm(Seq(idOf(30)))
    val v = viewed(engine.viewState("cap", key, MM, MMAggs))
    assert(mode == "incremental", s"got ${mode}")
    assert(collectedW(v) == directW(engine, key))
    assert(collectedW(v).find(_._1 == "sc").get._3 == 29L)
    // the probe: retract the NEW champion. The stored reserve must still
    // know 28 — O(delta), served max 28, never the stale pre-window 10
    rm(Seq(idOf(29)))
    val v2 = viewed(engine.viewState("cap", key, MM, MMAggs))
    assert(mode == "incremental",
      "a retraction covered by the true top-k must stay O(delta)")
    assert(collectedW(v2).find(_._1 == "sc").get._3 == 28L,
      "the capped-out in-window add must survive as the runner-up")
    assert(collectedW(v2) == directW(engine, key))
    // net-zero window against group d (reserve [28, 10]): add 40/39/28
    // and retract all three in the SAME window. A capped add side would
    // fail to net the 28's retraction (capped out behind 40/39) and
    // wrongly strike the OLD reserve's 28 instead.
    engine.save(yamlW("d two", "d", 40) + yamlW("d three", "d", 39) +
      yamlW("d four", "d", 28))
    rm(Seq(idOf(40), idOf(39), idOf(28))) // idOf takes max id: the new 28
    val v3 = viewed(engine.viewState("cap", key, MM, MMAggs))
    assert(mode == "incremental", s"got ${mode}")
    assert(collectedW(v3).find(_._1 == "sd").get._3 == 28L,
      "a net-zero window must leave the old reserve untouched")
    assert(collectedW(v3) == directW(engine, key))
    engine.clean()
  }

  test("an exhausted reserve takes the group-scoped rescan arm — and " +
      "ONLY for the broken group") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo_view_res").toString
    // k=2: two uncovered top-value retractions empty a group's reserve
    val engine = new MemoEngine(spark, s"$dir/db", viewReserveK = 2)
    val key = "metadata['category']"
    engine.save(yamlW("x zero", "x", 10) + yamlW("x one", "x", 9) +
      yamlW("x two", "x", 8) + yamlW("x three", "x", 7) +
      yamlW("y zero", "y", 5))
    engine.save(yamlW("y one", "y", 6)) // second segment: patches prune
    viewed(engine.viewState("res", key, MM, MMAggs))
    // retract the top TWO of group x in one batch (ids 0 and 1): the k=2
    // reserve [10, 9] empties — max 8 is unrecoverable from state+delta
    val feed = Seq(
      (0L, "removed", "", Map.empty[String, String]),
      (1L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    engine.applyChanges(feed)
    val v = viewed(engine.viewState("res", key, MM, MMAggs))
    assert(mode == "incremental_rescan",
      "an exhausted reserve must take the rescan arm")
    assert(scanned.exists(_.contains("/changefeed/")) &&
      scanned.exists(_.contains("/records")),
      s"rescan arm reads the feed AND the corpus: ${scanned}")
    assert(collectedW(v) == directW(engine, key))
    assert(collectedW(v).find(_._1 == "sx").get._3 == 8L,
      "the rescan must land on the true post-retraction max")
    // one more covered cycle proves the rescan REFILLED the reserve:
    // retracting the new champion (8) is again O(delta)
    engine.applyChanges(Seq((2L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v2 = viewed(engine.viewState("res", key, MM, MMAggs))
    assert(mode == "incremental",
      "a rescan must refill the reserve for the next champion retraction")
    assert(collectedW(v2).find(_._1 == "sx").get._3 == 7L)
    assert(collectedW(v2) == directW(engine, key))
    engine.clean()
  }

  // ---- COUNT DISTINCT measures (the dictionary-backed class) -------------

  private def yamlS(body: String, cat: String, src: String): String =
    s"---\nbody: $body\nmetadata: {category: $cat, src: $src}\n"

  private val DD = Seq("srcs" -> "metadata['src']")
  private val DDAggs = Map("srcs" -> "count_distinct")

  /** Direct oracle for the distinct view: exact COUNT(DISTINCT) with SQL
    * null handling (nulls ignored), the same contract the view serves. */
  private def directD(engine: MemoEngine, key: String): Set[(String, Long, Long)] =
    engine.records
      .groupBy(expr(key).cast("string").as("group_key"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(expr("metadata['src']").cast("string")).as("srcs"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("count_distinct measures: adds, covered retractions, and value " +
      "moves all stay O(delta) against the exact dictionary") {
    import spark.implicits._
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    // group a: sources s1, s2, s2 (distinct 2); group b: s1 (distinct 1)
    engine.save(yamlS("a zero", "a", "s1") + yamlS("a one", "a", "s2") +
      yamlS("a two", "a", "s2") + yamlS("b zero", "b", "s1"))
    engine.save(yamlS("a three", "a", "s3")) // second segment: patches prune
    val v = viewed(engine.viewState("dd", key, DD, DDAggs))
    assert(mode == "rebuild")
    assert(collected(v) == directD(engine, key))
    assert(collected(v).find(_._1 == "sa").get._3 == 3L)
    // append with one NEW and one KNOWN source: incremental, delta only
    engine.save(yamlS("a four", "a", "s4") + yamlS("b one", "b", "s1"))
    val v2 = viewed(engine.viewState("dd", key, DD, DDAggs))
    assert(mode == "incremental")
    assert(scanned.nonEmpty && scanned.forall(_.contains("/v2/")),
      s"append refresh must read only v2's delta: ${scanned}")
    assert(collected(v2) == directD(engine, key))
    assert(collected(v2).find(_._1 == "sa").get._3 == 4L)
    assert(collected(v2).find(_._1 == "sb").get._3 == 1L)
    def patch(rows: Seq[(Long, String, String, Map[String, String])]): Unit =
      engine.applyChanges(rows.toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    // retract ONE of group a's two s2 instances: multiplicity covers it —
    // distinct count unchanged, no rescan, feed-only scan
    patch(Seq((2L, "removed", "", Map.empty[String, String])))
    val v3 = viewed(engine.viewState("dd", key, DD, DDAggs))
    assert(mode == "incremental",
      "a multiplicity-covered retraction must not rescan")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/changefeed/")),
      s"covered retraction must read only the feed: ${scanned}")
    assert(collected(v3) == directD(engine, key))
    assert(collected(v3).find(_._1 == "sa").get._3 == 4L,
      "one surviving s2 instance must keep the value counted")
    // retract the LAST instance of a value (a's s1): the dictionary drops
    // the key — the distinct count falls, still O(delta)
    patch(Seq((0L, "removed", "", Map.empty[String, String])))
    val v4 = viewed(engine.viewState("dd", key, DD, DDAggs))
    assert(mode == "incremental",
      "a last-instance retraction is covered by the exact dictionary")
    assert(collected(v4) == directD(engine, key))
    assert(collected(v4).find(_._1 == "sa").get._3 == 3L)
    // move a row BETWEEN groups (a's s3 row becomes b's s3 row): one
    // retraction + one add in the same window, both groups exact
    patch(Seq((4L, "updated", "moved to b",
      Map("category" -> "sb", "src" -> "ss3"))))
    val v5 = viewed(engine.viewState("dd", key, DD, DDAggs))
    assert(mode == "incremental")
    assert(collected(v5) == directD(engine, key))
    assert(collected(v5).find(_._1 == "sa").get._3 == 2L)
    assert(collected(v5).find(_._1 == "sb").get._3 == 2L)
    engine.clean()
  }

  test("count_distinct overflow: the cap-crossing merge stays exact, the " +
      "next value touch rescans ONLY that group, and shrinking back under " +
      "the cap refills the dictionary") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo_view_dcap").toString
    // non-default cap = 2 (the configurability pin): overflow is cheap to
    // stage and both sides of the cap get exercised
    val engine = new MemoEngine(spark, s"$dir/db", viewDistinctCap = 2)
    val key = "metadata['category']"
    engine.save(yamlS("x zero", "x", "s1") + yamlS("x one", "x", "s2") +
      yamlS("y zero", "y", "s1"))
    engine.save(yamlS("y one", "y", "s2")) // second segment: patches prune
    viewed(engine.viewState("dover", key, DD, DDAggs))
    assert(mode == "rebuild")
    // the cap-CROSSING merge: a third distinct source for x. The fold saw
    // every value, so the scalar is exact and the mode stays incremental —
    // only the dictionary drops
    engine.save(yamlS("x two", "x", "s3"))
    val v = viewed(engine.viewState("dover", key, DD, DDAggs))
    assert(mode == "incremental",
      "the cap-crossing merge itself must not rescan")
    assert(collected(v) == directD(engine, key))
    assert(collected(v).find(_._1 == "sx").get._3 == 3L,
      "the scalar must stay exact through the overflow merge")
    // a window touching ONLY group y: x's overflow must not tax it
    engine.save(yamlS("y two", "y", "s3"))
    val v2 = viewed(engine.viewState("dover", key, DD, DDAggs))
    assert(mode == "incremental",
      "an untouched overflowed group must not force a rescan")
    assert(collected(v2) == directD(engine, key))
    // now TOUCH x's values: the dropped dictionary can't answer — the
    // group-scoped rescan arm fires and restores truth
    engine.save(yamlS("x three", "x", "s4"))
    val v3 = viewed(engine.viewState("dover", key, DD, DDAggs))
    assert(mode == "incremental_rescan",
      "a value touch on an overflowed group must rescan it")
    assert(scanned.exists(_.contains("/records")),
      s"rescan arm reads the corpus: ${scanned}")
    assert(collected(v3) == directD(engine, key))
    assert(collected(v3).find(_._1 == "sx").get._3 == 4L)
    // retract back UNDER the cap (drop x's s3 row — id 4 — and s4 row —
    // id 6): this touch still rescans (the group is in overflow), but the
    // rescan now sees ≤ cap distinct values and REFILLS the dictionary …
    engine.applyChanges(Seq(
        (4L, "removed", "", Map.empty[String, String]),
        (6L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v4 = viewed(engine.viewState("dover", key, DD, DDAggs))
    assert(mode == "incremental_rescan")
    assert(collected(v4) == directD(engine, key))
    assert(collected(v4).find(_._1 == "sx").get._3 == 2L)
    // … so the NEXT covered retraction is O(delta) again — full recovery
    engine.applyChanges(Seq((0L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v5 = viewed(engine.viewState("dover", key, DD, DDAggs))
    assert(mode == "incremental",
      "a refilled dictionary must cover retractions again")
    assert(collected(v5) == directD(engine, key))
    assert(collected(v5).find(_._1 == "sx").get._3 == 1L)
    engine.clean()
  }

  test("per-view distinctCap: two views at different caps in ONE store — " +
      "overflow isolated to the tight view, refreshViews re-decodes each " +
      "view's own cap, a cap change is a spec change") {
    val (engine, _) = freshEngine() // engine default cap stays 64
    val key = "metadata['category']"
    engine.save(yamlS("x zero", "x", "s1") + yamlS("x one", "x", "s2"))
    engine.save(yamlS("x two", "x", "s3")) // second segment: patches prune
    // tight view (cap 2 — already overflowed at 3 distinct sources) and
    // default-cap view over the SAME store
    val a0 = viewed(engine.viewState("dcap2", key, DD, DDAggs,
      distinctCap = Some(2)))
    assert(mode == "rebuild")
    assert(collected(a0) == directD(engine, key))
    val b0 = viewed(engine.viewState("dcap64", key, DD, DDAggs))
    assert(mode == "rebuild")
    assert(collected(b0) == directD(engine, key))
    // a value touch: the overflowed tight view pays its group rescan,
    // the roomy view does an O(delta) dictionary insert — same window
    engine.save(yamlS("x three", "x", "s4"))
    val a1 = viewed(engine.viewState("dcap2", key, DD, DDAggs,
      distinctCap = Some(2)))
    assert(mode == "incremental_rescan",
      "cap-2 view must rescan its overflowed group")
    assert(collected(a1) == directD(engine, key))
    val b1 = viewed(engine.viewState("dcap64", key, DD, DDAggs))
    assert(mode == "incremental",
      "the default-cap view must not pay the tight view's overflow")
    assert(collected(b1) == directD(engine, key))
    // refreshViews decodes each view's OWN cap from its recorded spec:
    // a dropped/garbled cap would recompute a different spec and show
    // up here as a spurious rebuild
    engine.save(yamlS("x four", "x", "s5"))
    val modes = engine.refreshViews()
    assert(modes("dcap2") == "incremental_rescan",
      s"refreshViews lost the per-view cap: ${modes("dcap2")}")
    assert(modes("dcap64") == "incremental",
      s"refreshViews changed the default view's path: ${modes("dcap64")}")
    assert(collected(viewed(engine.viewState("dcap2", key, DD, DDAggs,
      distinctCap = Some(2)))) == directD(engine, key))
    // changing the cap IS a spec change — detected, rebuilt
    val a2 = viewed(engine.viewState("dcap2", key, DD, DDAggs,
      distinctCap = Some(8)))
    assert(mode == "rebuild",
      "a distinctCap change must rebuild like any spec change")
    assert(collected(a2) == directD(engine, key))
    engine.clean()
  }

  test("a group born with only NULL distinct values gets the EMPTY " +
      "dictionary, not the overflow sentinel — its first real value is " +
      "an O(delta) insert, never a rescan") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlS("seed a", "a", "s1"))
    viewed(engine.viewState("dnull", key, DD, DDAggs))
    assert(mode == "rebuild")
    // group c arrives with NO src key at all: doc_count moves, but the
    // distinct measure sees only NULLs — touched=false, no old row
    engine.save(yamlDoc("c zero no src", Some("c")))
    val v = viewed(engine.viewState("dnull", key, DD, DDAggs))
    assert(mode == "incremental")
    assert(collected(v) == directD(engine, key))
    assert(collected(v).find(_._1 == "sc").get._3 == 0L)
    // the group's FIRST real value: an empty dictionary answers it
    // O(delta); a NULL-poisoned one would fire the group-scoped rescan
    engine.save(yamlS("c one", "c", "s9"))
    val v2 = viewed(engine.viewState("dnull", key, DD, DDAggs))
    assert(mode == "incremental",
      s"empty dictionary must not masquerade as overflow, " +
        s"got ${mode}")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/v2/")),
      s"first value add must read only v2's delta: ${scanned}")
    assert(collected(v2) == directD(engine, key))
    assert(collected(v2).find(_._1 == "sc").get._3 == 1L)
    // and the dictionary really is live: retracting that value is covered
    import spark.implicits._
    engine.applyChanges(Seq((2L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v3 = viewed(engine.viewState("dnull", key, DD, DDAggs))
    assert(mode == "incremental")
    assert(collected(v3) == directD(engine, key))
    assert(collected(v3).find(_._1 == "sc").get._3 == 0L)
    engine.clean()
  }

  test("a distinct value added and retracted across steps of ONE refresh " +
      "window cancels in the dictionary") {
    import spark.implicits._
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlS("p zero", "p", "s1") + yamlS("p one", "p", "s2"))
    engine.save(yamlS("p two", "p", "s2")) // 2 segments: patches prune
    viewed(engine.viewState("dph", key, DD, DDAggs)) // watermark here
    def upd(id: Long, src: String): Unit =
      engine.applyChanges(Seq((id, "updated", s"dph upd $id",
          Map("category" -> "sp", "src" -> src)))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    // TWO patch commits, NO refresh between: row 0 visits s9 then returns
    // to s1 — the transient s9 must not survive the window's fold
    upd(0L, "ss9")
    upd(0L, "ss1")
    val v = viewed(engine.viewState("dph", key, DD, DDAggs))
    assert(mode == "incremental", s"got ${mode}")
    assert(collected(v) == directD(engine, key),
      "a cross-step add+retract must cancel in the dictionary")
    assert(collected(v).find(_._1 == "sp").get._3 == 2L,
      "the transient s9 must not be served in the distinct count")
    engine.clean()
  }

  // ---- PERCENTILE measures (median/pNN on the dictionary machinery) ------

  private def yamlP(body: String, cat: String, w: Int): String =
    s"---\nbody: $body\nmetadata: {category: $cat, w: $w}\n"

  private val WExpr = "regexp_extract(metadata['w'], '^i?(-?\\\\d+)$', 1)"
  private val PC = Seq("w_med" -> WExpr, "w_p90" -> WExpr)
  private val PCAggs = Map("w_med" -> "median", "w_p90" -> "p90")

  /** SQL-standard percentile_disc over the group's exact multiset: the
    * smallest value whose cumulative distribution reaches pct/100 — the
    * same integer walk the view computes and DuckDB replays. */
  private def pctDisc(values: Seq[Long], pct: Int): Long = {
    val sorted = values.sorted
    val total = sorted.size.toLong
    var cum = 0L
    sorted.find { _ => cum += 1; cum * 100 >= total * pct }.get
  }

  /** Direct oracle: group rows, 0-coerce w (the numeric-measure rule),
    * walk both percentiles driver-side. */
  private def directP(engine: MemoEngine, key: String)
      : Set[(String, Long, Long, Long)] =
    engine.records
      .select(expr(key).cast("string").as("g"),
        coalesce(expr(s"try_cast(($WExpr) AS BIGINT)"), lit(0L)).as("w"))
      .collect().groupBy(_.getString(0)).map { case (g, rows) =>
        val ws = rows.map(_.getLong(1)).toSeq
        (g, ws.size.toLong, pctDisc(ws, 50), pctDisc(ws, 90))
      }.toSet

  private def collectedP(df: DataFrame): Set[(String, Long, Long, Long)] =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("percentile measures: adds, covered retractions, and value moves " +
      "stay O(delta) against the exact histogram") {
    import spark.implicits._
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    // group a: 10, 20, 20, 40 (median 20, p90 40); group b: 7
    engine.save(yamlP("a zero", "a", 10) + yamlP("a one", "a", 20) +
      yamlP("a two", "a", 20) + yamlP("b zero", "b", 7))
    engine.save(yamlP("a three", "a", 40)) // second segment: patches prune
    val v = viewed(engine.viewState("pct", key, PC, PCAggs))
    assert(mode == "rebuild")
    assert(collectedP(v) == directP(engine, key))
    assert(collectedP(v).find(_._1 == "sa").get._3 == 20L)
    // append with a new extreme: incremental, delta only
    engine.save(yamlP("a four", "a", 5) + yamlP("b one", "b", 9))
    val v2 = viewed(engine.viewState("pct", key, PC, PCAggs))
    assert(mode == "incremental")
    assert(scanned.nonEmpty && scanned.forall(_.contains("/v2/")),
      s"append refresh must read only v2's delta: ${scanned}")
    assert(collectedP(v2) == directP(engine, key))
    def patch(rows: Seq[(Long, String, String, Map[String, String])]): Unit = {
      engine.applyChanges(rows.toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
      ()
    }
    // retract ONE of group a's two 20s: multiplicity-covered — the
    // median stays 20 off the histogram, no rescan, feed-only scan
    patch(Seq((2L, "removed", "", Map.empty[String, String])))
    val v3 = viewed(engine.viewState("pct", key, PC, PCAggs))
    assert(mode == "incremental",
      "a multiplicity-covered retraction must not rescan")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/changefeed/")),
      s"covered retraction must read only the feed: ${scanned}")
    assert(collectedP(v3) == directP(engine, key))
    // retract the MEDIAN's last instance: the histogram still answers —
    // the walk lands on a neighbor, still O(delta)
    patch(Seq((1L, "removed", "", Map.empty[String, String])))
    val v4 = viewed(engine.viewState("pct", key, PC, PCAggs))
    assert(mode == "incremental",
      "a champion retraction is covered by the exact histogram")
    assert(collectedP(v4) == directP(engine, key))
    // move a value (b's 7 becomes 100): retract + add in one window
    patch(Seq((3L, "updated", "b zero louder",
      Map("category" -> "sb", "w" -> "i100"))))
    val v5 = viewed(engine.viewState("pct", key, PC, PCAggs))
    assert(mode == "incremental")
    assert(collectedP(v5) == directP(engine, key))
    assert(collectedP(v5).find(_._1 == "sb").get._4 == 100L)
    engine.clean()
  }

  test("percentile overflow: the cap-crossing merge stays exact, the " +
      "next value touch rescans ONLY that group, and shrinking back " +
      "under the cap refills the histogram") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo_view_pcap").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewDistinctCap = 2)
    val key = "metadata['category']"
    engine.save(yamlP("x zero", "x", 1) + yamlP("x one", "x", 2) +
      yamlP("y zero", "y", 5))
    engine.save(yamlP("y one", "y", 6)) // second segment: patches prune
    viewed(engine.viewState("pover", key, PC, PCAggs))
    assert(mode == "rebuild")
    // the cap-CROSSING merge: a third distinct value for x — the fold
    // saw every value, so the scalars stay exact while the dict drops
    engine.save(yamlP("x two", "x", 9))
    val v = viewed(engine.viewState("pover", key, PC, PCAggs))
    assert(mode == "incremental",
      "the cap-crossing merge itself must not rescan")
    assert(collectedP(v) == directP(engine, key))
    assert(collectedP(v).find(_._1 == "sx").get._3 == 2L,
      "the median must stay exact through the overflow merge")
    // a window touching ONLY group y: x's overflow must not tax it
    engine.save(yamlP("y two", "y", 7))
    val v2 = viewed(engine.viewState("pover", key, PC, PCAggs))
    assert(mode == "incremental",
      "an untouched overflowed group must not force a rescan")
    assert(collectedP(v2) == directP(engine, key))
    // TOUCH x's values: the dropped histogram can't answer — rescan
    engine.save(yamlP("x three", "x", 4))
    val v3 = viewed(engine.viewState("pover", key, PC, PCAggs))
    assert(mode == "incremental_rescan",
      "a value touch on an overflowed group must rescan it")
    assert(collectedP(v3) == directP(engine, key))
    // retract back UNDER the cap (drop 9 and 4): the rescan refills …
    engine.applyChanges(Seq(
        (4L, "removed", "", Map.empty[String, String]),
        (6L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v4 = viewed(engine.viewState("pover", key, PC, PCAggs))
    assert(mode == "incremental_rescan")
    assert(collectedP(v4) == directP(engine, key))
    // … so the NEXT retraction is O(delta) again — full recovery
    engine.applyChanges(Seq((0L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v5 = viewed(engine.viewState("pover", key, PC, PCAggs))
    assert(mode == "incremental",
      "a refilled histogram must cover retractions again")
    assert(collectedP(v5) == directP(engine, key))
    engine.clean()
  }

  test("median is p50; malformed percentile aggregators are rejected " +
      "loudly; changing the percent is a detected spec change") {
    import org.scalatest.Assertions.intercept
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlP("m zero", "m", 3) + yamlP("m one", "m", 8) +
      yamlP("m two", "m", 11))
    val med = viewed(engine.viewState("pmed", key,
      Seq("v" -> WExpr), Map("v" -> "median"))).collect()
    val p50 = viewed(engine.viewState("p50twin", key,
      Seq("v" -> WExpr), Map("v" -> "p50"))).collect()
    assert(med.map(r => (r.getString(0), r.getLong(2))).toSet ==
      p50.map(r => (r.getString(0), r.getLong(2))).toSet)
    assert(med.head.getLong(2) == 8L)
    // percent participates in spec identity through the aggregator name:
    // same view name at p95 is a DETECTED change and rebuilds
    val p95 = viewed(engine.viewState("pmed", key,
      Seq("v" -> WExpr), Map("v" -> "p95")))
    assert(mode == "rebuild",
      "a percent change must rebuild, never serve the old percentile")
    assert(p95.collect().head.getLong(2) == 11L)
    // outside 1..99 (or not pNN at all) is rejected at the boundary
    for (bad <- Seq("p0", "p100", "p05", "p9x", "percentile")) {
      val e = intercept[IllegalArgumentException] {
        viewed(engine.viewState("prej", key, Seq("v" -> WExpr), Map("v" -> bad)))
      }
      assert(e.getMessage.contains("unsupported"), s"$bad: ${e.getMessage}")
    }
    engine.clean()
  }

  test("count measures skip nulls (SQL COUNT(expr)) and retract by " +
      "negation through the feed") {
    import spark.implicits._
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    def yamlO(body: String, cat: String, opt: Option[String]): String =
      opt match {
        case Some(o) =>
          s"---\nbody: $body\nmetadata: {category: $cat, opt: $o}\n"
        case None => s"---\nbody: $body\nmetadata: {category: $cat}\n"
      }
    engine.save(yamlO("a one", "a", Some("x")) + yamlO("a two", "a", None) +
      yamlO("b one", "b", Some("y")))
    engine.save(yamlO("b two", "b", None) + yamlO("c one", "c", None))
    val m = Seq("n_opt" -> "metadata['opt']")
    val aggs = Map("n_opt" -> "count")
    def directC(): Set[(String, Long, Long)] = engine.records
      .groupBy(expr(key).cast("string").as("group_key"))
      .agg(count(lit(1)).as("doc_count"),
        count(expr("metadata['opt']")).as("n_opt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val v = viewed(engine.viewState("cnt", key, m, aggs))
    assert(mode == "rebuild")
    assert(collected(v) == directC())
    assert(collected(v).find(_._1 == "sc").get._3 == 0L,
      "a group of all-null evaluations must count 0, not its rows")
    // presence-boundary patch: a's opt-carrier drops the key (retract
    // presence), a's null row gains it (add), b's carrier is removed
    engine.applyChanges(Seq(
        (0L, "updated", "a one no opt", Map("category" -> "sa")),
        (1L, "updated", "a two gained", Map("category" -> "sa",
          "opt" -> "sz")),
        (2L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val v2 = viewed(engine.viewState("cnt", key, m, aggs))
    assert(mode == "incremental",
      s"presence retraction must stay O(delta), got ${mode}")
    assert(collected(v2) == directC())
    assert(collected(v2).find(_._1 == "sa").get._3 == 1L)
    assert(collected(v2).find(_._1 == "sb").get._3 == 0L)
    engine.clean()
  }

  // ---- WHERE-scoped (filtered) views --------------------------------------

  private def yamlG(body: String, cat: String, grp: String): String =
    s"---\nbody: $body\nmetadata: {category: $cat, grp: $grp}\n"

  /** Direct oracle for the filtered view: group-by over records that
    * match the predicate NOW (stored string encoding: 's' + value). */
  private def directG(engine: MemoEngine, key: String,
      grp: String): Set[(String, Long, Long)] =
    engine.records
      .filter(expr(s"metadata['grp'] = 's$grp'"))
      .groupBy(expr(key).cast("string").as("group_key"))
      .agg(count(lit(1)).as("doc_count"),
        sum(coalesce(expr("length(body)").cast("long"), lit(0L)))
          .as("chars"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("a WHERE-scoped view maintains only the matching rows; predicate " +
      "boundary crossings retract and add through the feed") {
    import spark.implicits._
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlG("a in one", "a", "g1") + yamlG("a out zero", "a", "g0") +
      yamlG("b in one", "b", "g1"))
    engine.save(yamlG("b in two", "b", "g1") + yamlG("c out zero", "c", "g0"))
    // a third, never-touched segment keeps every patch below
    // segment-pruned (all-segment patches degrade to rewrite commits)
    engine.save(yamlG("d in one", "d", "g1"))
    val w = Some("{grp: g1}")
    val v = viewed(engine.viewState("fg", key, Chars, where = w))
    assert(mode == "rebuild")
    assert(collected(v) == directG(engine, key, "g1"))
    assert(!collected(v).exists(_._1 == "sc"),
      "non-matching groups must not exist in a filtered view")
    def patch(rows: Seq[(Long, String, String, Map[String, String])]): Unit =
      engine.applyChanges(rows.toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    // ONE window, three boundary moves: id 0 LEAVES the predicate
    // (g1→g2: must retract from 'a'), id 1 ENTERS it (g0→g1: must add
    // to 'a'), id 4 stays outside (g0→g3: must do nothing)
    patch(Seq(
      (0L, "updated", "a moved out", Map("category" -> "sa", "grp" -> "sg2")),
      (1L, "updated", "a moved in!", Map("category" -> "sa", "grp" -> "sg1")),
      (4L, "updated", "c still out", Map("category" -> "sc", "grp" -> "sg3"))))
    val v2 = viewed(engine.viewState("fg", key, Chars, where = w))
    assert(mode == "incremental",
      s"boundary crossings must stay O(delta), got ${mode}")
    assert(scanned.nonEmpty &&
      scanned.forall(_.contains("/changefeed/")),
      s"patch refresh must read only the feed: ${scanned}")
    assert(collected(v2) == directG(engine, key, "g1"))
    assert(collected(v2).find(_._1 == "sa").get._2 == 1L,
      "the out-crossing must retract and the in-crossing must add")
    // update WITHIN the predicate (body change on a matching row) and a
    // removal of a matching row: plain retract+add / retract
    patch(Seq(
      (2L, "updated", "b longer body now", Map("category" -> "sb", "grp" -> "sg1")),
      (3L, "removed", "", Map.empty[String, String])))
    val v3 = viewed(engine.viewState("fg", key, Chars, where = w))
    assert(mode == "incremental")
    assert(collected(v3) == directG(engine, key, "g1"))
    engine.clean()
  }

  test("a WHERE-scoped view's corpus scans read only stats-surviving " +
      "segments; the predicate participates in spec identity") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    // grp correlates with the save order: stats can PROVE g0-only
    // segments unmatchable for {grp: g1}
    engine.save(yamlG("seed zero", "a", "g0") + yamlG("seed one", "b", "g0"))
    engine.save(yamlG("in one", "a", "g1") + yamlG("in two", "b", "g1"))
    val w = Some("{grp: g1}")
    val v = viewed(engine.viewState("fs", key, Chars, where = w))
    assert(mode == "rebuild")
    // the REBUILD must already skip the provably-unmatchable segment
    assert(scanned.nonEmpty && scanned.forall(_.contains("/v1/")),
      s"filtered rebuild must scan only surviving segments: ${scanned}")
    assert(collected(v) == directG(engine, key, "g1"))
    // append a provably-unmatchable delta: the refresh is incremental
    // and scans NOTHING (delta ∩ surviving = ∅)
    engine.save(yamlG("out three", "c", "g0"))
    val v2 = viewed(engine.viewState("fs", key, Chars, where = w))
    assert(mode == "incremental")
    assert(scanned.isEmpty,
      s"an unmatchable delta segment must never be opened: ${scanned}")
    assert(collected(v2) == directG(engine, key, "g1"))
    // append a matching delta: scanned is exactly that segment
    engine.save(yamlG("in three", "c", "g1"))
    val v3 = viewed(engine.viewState("fs", key, Chars, where = w))
    assert(mode == "incremental")
    assert(scanned.nonEmpty && scanned.forall(_.contains("/v3/")),
      s"matching delta only: ${scanned}")
    assert(collected(v3) == directG(engine, key, "g1"))
    // same name, different predicate: a detected spec change — rebuild,
    // and the new predicate's rows serve
    val v4 = viewed(engine.viewState("fs", key, Chars, where = Some("{grp: g0}")))
    assert(mode == "rebuild",
      "a WHERE change must be detected as a spec change")
    assert(collected(v4) == directG(engine, key, "g0"))
    // …and dropping the predicate is a spec change too (None ≠ match-all)
    val v5 = viewed(engine.viewState("fs", key, Chars))
    assert(mode == "rebuild")
    assert(collected(v5) == direct(engine, key))
    // malformed predicates fail loudly at the boundary
    intercept[IllegalArgumentException] {
      viewed(engine.viewState("fs", key, Chars, where = Some("{unclosed: ")))
    }
    engine.clean()
  }

  test("refreshViews re-derives a WHERE-scoped view's predicate from its " +
      "recorded spec") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlG("one in", "a", "g1") + yamlG("one out", "a", "g0"))
    viewed(engine.viewState("fr", key, Chars, where = Some("{grp: g1}")))
    engine.save(yamlG("two in", "b", "g1") + yamlG("two out", "b", "g0"))
    val modes = engine.refreshViews()
    // "rebuild" here would mean the decoded spec LOST the predicate and
    // re-registered a different view
    assert(modes.get("fr").contains("incremental"),
      s"decoded filtered view must refresh incrementally: $modes")
    val v = viewed(engine.viewState("fr", key, Chars, where = Some("{grp: g1}")))
    assert(mode == "fresh",
      "the refreshViews pass must have left the view watermark-current")
    assert(collected(v) == directG(engine, key, "g1"))
    engine.clean()
  }

  test("unsupported aggregators and unknown measure names are rejected") {
    val (engine, _) = freshEngine()
    engine.save(yamlDoc("one note", Some("a")))
    // percentile-class aggregates are NOT retractable from the feed:
    // loud rejection at the boundary beats a silently stale view
    intercept[IllegalArgumentException] {
      viewed(engine.viewState("bad", "metadata['category']", Chars,
        Map("chars" -> "percentile")))
    }
    intercept[IllegalArgumentException] {
      viewed(engine.viewState("bad", "metadata['category']", Chars,
        Map("nope" -> "sum")))
    }
    // "sign" would alias the contribution frame's retraction column
    intercept[IllegalArgumentException] {
      viewed(engine.viewState("bad", "metadata['category']",
        Seq("sign" -> "length(body)")))
    }
    engine.clean()
  }

  test("changing ONLY a measure's aggregator is a detected spec change") {
    val (engine, _) = freshEngine()
    engine.save(yamlW("x zero", "x", 4) + yamlW("x one", "x", 6))
    val m = Seq("w" -> W)
    val s1 = viewed(engine.viewState("agg", "metadata['category']", m)) // sum
    assert(mode == "rebuild")
    assert(s1.collect()(0).getLong(2) == 10L)
    // same name, same exprs, different aggregator: the spec encodes the
    // aggregator per component, so this rebuilds instead of serving sums
    val s2 = viewed(engine.viewState("agg", "metadata['category']", m,
      Map("w" -> "max")))
    assert(mode == "rebuild",
      "agg-kind change must be detected as a spec change")
    assert(s2.collect()(0).getLong(2) == 6L)
    engine.clean()
  }

  test("a lock-free reader survives multiple refresh generations") {
    val (engine, base) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlDoc("gen zero note", Some("a")))
    val held = viewed(engine.viewState("gen", key, Chars)) // generation 0
    engine.save(yamlDoc("gen one note", Some("b")))
    viewed(engine.viewState("gen", key, Chars)) // generation 1
    engine.save(yamlDoc("gen two note", Some("c")))
    viewed(engine.viewState("gen", key, Chars)) // generation 2
    // two refreshes completed under the held frame; the sweep is TTL-aged
    // (not keep-last-one), so the generation-0 dir is still on disk and
    // the held DataFrame still serves
    assert(held.count() == 1L,
      "a served DataFrame must survive >1 refresh generation")
    val stateDirs = Files.list(java.nio.file.Paths.get(base)
        .resolve("_view_gen")).iterator()
    var n = 0
    while (stateDirs.hasNext) {
      if (stateDirs.next().getFileName.toString.startsWith("state-")) n += 1
    }
    assert(n >= 3, s"young state dirs must not be swept (found $n)")
    engine.clean()
  }

  test("view refreshes stay consistent under concurrent commit churn") {
    // tiny shard target: the churn loop's refreshes take the SHARDED
    // publish paths (carry + rewrite racing commits), not a single shard
    val dir0 = Files.createTempDirectory("memo_view_churn").toString
    val engine = new MemoEngine(spark, s"$dir0/db", viewShardRows = 2)
    val key = "metadata['category']"
    val cats = Seq("a", "b", "c")
    engine.save(yamlDoc("seed note", Some("a")))
    viewed(engine.viewState("churn", key, Chars))
    import spark.implicits._
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writer = new Thread(() => {
      try {
        for (i <- 0 until 6) {
          engine.save(yamlDoc(s"churn note $i", Some(cats(i % 3))))
          if (i % 2 == 1) { // a patch commit mid-churn: move a row to 'z'
            val maxId =
              engine.records.agg(max("id")).collect()(0).getLong(0)
            val feed = Seq((maxId, "updated", s"churned $i",
                Map("category" -> "sz")))
              .toDF("id", "change", "body", "metadata")
              .withColumn("commit_version", lit(0L))
            engine.applyChanges(feed)
          }
        }
      } catch { case t: Throwable => errs.add(t) }
    })
    // a MAX view rides the same churn: its reserve merge must stay
    // coherent under interleaved patch retractions (the rows moved to
    // 'z' retract from the source group's reserve mid-loop)
    val maxMeasure = Seq("hi" -> "length(body)")
    val maxAggs = Map("hi" -> "max")
    viewed(engine.viewState("churnmax", key, maxMeasure, maxAggs))
    writer.start()
    try {
      // adversarial loop: every observation mid-churn must be a coherent
      // committed state — no exceptions, no zero/negative counts
      while (writer.isAlive) {
        val rows = viewed(engine.viewState("churn", key, Chars)).collect()
        assert(rows.forall(_.getLong(1) > 0L),
          s"incoherent view served mid-churn: ${rows.mkString(";")}")
        val mrows = viewed(engine.viewState("churnmax", key, maxMeasure, maxAggs))
          .collect()
        assert(mrows.forall(r => r.getLong(1) > 0L && !r.isNullAt(2)),
          s"incoherent max view served mid-churn: ${mrows.mkString(";")}")
        Thread.sleep(25)
      }
    } finally writer.join()
    assert(errs.isEmpty, s"writer failed mid-churn: ${errs.peek()}")
    val fin = viewed(engine.viewState("churn", key, Chars))
    assert(collected(fin) == direct(engine, key),
      "post-churn view must converge with the direct group-by")
    val finMax = viewed(engine.viewState("churnmax", key, maxMeasure, maxAggs))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val directMax = engine.records
      .groupBy(expr(key).cast("string").as("group_key"))
      .agg(count(lit(1)).as("doc_count"),
        max(coalesce(expr("length(body)").cast("long"), lit(0L))).as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(finMax == directMax,
      "post-churn max view must converge with the direct group-by")
    engine.clean()
  }

  test("differential walk: a mixed op sequence never diverges from the " +
      "direct group-by (sum AND min/max, every refresh)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("memo_view_diff").toString
    // k=2 so the walk actually crosses the exhaustion boundary;
    // shardRows=2 so EVERY refresh exercises the multi-shard publish —
    // touched-shard selection, carried references, split-on-rewrite —
    // against the direct group-by oracle (at the default target the
    // fixture is one shard and the sharded paths would go untested here)
    val engine = new MemoEngine(spark, s"$dir/db", viewReserveK = 2,
      viewShardRows = 2)
    val key = "metadata['category']"
    // deterministic LCG — the sequence is fixed, reruns are identical
    var seed = 0x5eed5eedL
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound) + bound).toInt % bound
    }
    def checkBoth(step: String): Unit = {
      val s = viewed(engine.viewState("dsum", key, MM)) // sum over the weight expr
      assert(collectedW(s).map(t => (t._1, t._2)) ==
        directW(engine, key).map(t => (t._1, t._2)), s"counts diverged: $step")
      val m = viewed(engine.viewState("dmm", key, MM, MMAggs))
      assert(collectedW(m) == directW(engine, key),
        s"min/max diverged after $step (mode ${mode})")
    }
    engine.save((0 until 6).map(i =>
      yamlW(s"seed doc $i", s"g${i % 3}", next(50))).mkString)
    checkBoth("seed")
    for (step <- 0 until 14) {
      val ids = engine.records.select("id").collect().map(_.getLong(0)).sorted
      next(6) match {
        case 0 | 1 => // append a small batch (new groups allowed)
          engine.save((0 until 1 + next(3)).map(i =>
            yamlW(s"step $step add $i", s"g${next(4)}", next(50))).mkString)
        case 2 | 3 => // patch: update 1-2 rows (group move + weight change)
          val targets = (0 until 1 + next(2)).map(_ => ids(next(ids.length)))
            .distinct
          engine.applyChanges(targets.map(id =>
            (id, "updated", s"step $step upd $id",
              Map("category" -> s"sg${next(4)}", "weight" -> s"i${next(50)}")))
            .toDF("id", "change", "body", "metadata")
            .withColumn("commit_version", lit(0L)))
        case 4 => // remove 1-2 rows (champions included, by chance)
          if (ids.length > 3) {
            val targets = (0 until 1 + next(2)).map(_ => ids(next(ids.length)))
              .distinct
            engine.applyChanges(targets.map(id =>
              (id, "removed", "", Map.empty[String, String]))
              .toDF("id", "change", "body", "metadata")
              .withColumn("commit_version", lit(0L)))
          }
        case 5 => // rewrite: the honest-rebuild path
          engine.reindex()
      }
      // skipping ~1/3 of refreshes makes MULTI-step windows — the shape
      // where in-window add+retract pairs must cancel in the reserve
      if (next(3) != 0) checkBoth(s"step $step (op done)")
    }
    checkBoth("final")
    engine.clean()
  }

  test("a follower maintains the view from applied CDC batches alone") {
    val (leader, _) = freshEngine()
    val key = "metadata['category']"
    leader.save(yamlDoc("f alpha", Some("a")) + yamlDoc("f beta", Some("b")))
    leader.save(yamlDoc("f gamma", Some("a")))
    val log = Files.createTempDirectory("memo_view_log").toString
    leader.emitChanges(log)
    val (follower, _) = freshEngine()
    val ckpt = Files.createTempDirectory("memo_view_ckpt").toString
    follower.replicateFrom(log, ckpt)
    // the read-scaling shape: leader writes, follower serves the aggregate
    val v1 = viewed(follower.viewState("fv", key, Chars))
    assert(collectedFrom(v1) == direct(leader, key),
      "follower view must match the leader's direct group-by")
    // append ships: the follower's catch-up refresh is O(delta)
    leader.save(yamlDoc("f delta", Some("c")))
    leader.emitChanges(log)
    follower.replicateFrom(log, ckpt)
    val v2 = viewed(follower.viewState("fv", key, Chars))
    assert(mode == "incremental",
      "a replicated append must refresh the follower view incrementally")
    assert(collectedFrom(v2) == direct(leader, key))
    // update + soft-delete + reindex cycle ships and the view follows
    leader.save("---\nid: 0\nbody: f alpha moved\nmetadata: {category: c}\n")
    leader.save("---\nid: 1\nbody: gone\nmetadata: {deleted: true}\n")
    leader.reindex()
    leader.emitChanges(log)
    follower.replicateFrom(log, ckpt)
    val v3 = viewed(follower.viewState("fv", key, Chars))
    assert(collectedFrom(v3) == direct(leader, key),
      "follower view must converge across update/remove/reindex")
    leader.clean(); follower.clean()
  }

  private def collectedFrom(df: DataFrame): Set[(String, Long, Long)] =
    collected(df)

  test("refreshViews brings every registered view current from its " +
      "recorded spec; dropView removes the artifact") {
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(yamlW("r zero", "a", 4) + yamlW("r one", "b", 9))
    viewed(engine.viewState("vsum", key, Chars))
    viewed(engine.viewState("vmax", key, MM, MMAggs))
    assert(engine.views == Seq("vmax", "vsum"))
    engine.save(yamlW("r two", "a", 6))
    // one maintenance call, no restated specs: both views catch up
    val modes = engine.refreshViews()
    assert(modes == Map("vsum" -> "incremental", "vmax" -> "incremental"),
      s"unexpected refresh modes: $modes")
    val vs = viewed(engine.viewState("vsum", key, Chars))
    assert(mode == "fresh", "refreshViews must have caught vsum up")
    assert(collected(vs) == direct(engine, key))
    val vm = viewed(engine.viewState("vmax", key, MM, MMAggs))
    assert(mode == "fresh", "refreshViews must have caught vmax up")
    assert(collectedW(vm) == directW(engine, key))
    assert(engine.dropView("vmax"))
    assert(!engine.dropView("vmax"), "second drop must report absence")
    assert(engine.views == Seq("vsum"))
    engine.clean()
  }

  test("vacuum(protectViews) preserves a behind view's O(delta) catch-up " +
      "across superseded patch-chain dirs") {
    import spark.implicits._
    def upd(engine: MemoEngine, body: String): Unit =
      engine.applyChanges(Seq((0L, "updated", body,
          Map("category" -> "sa")))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
    def build(): MemoEngine = {
      val (engine, _) = freshEngine()
      engine.save(yamlDoc("pv zero", Some("a")) + yamlDoc("pv one", Some("b")))
      engine.save(yamlDoc("pv two", Some("c"))) // 2 segments: patches prune
      viewed(engine.viewState("pv", "metadata['category']", Chars)) // watermark 1
      upd(engine, "pv zero patched once")  // v2: patch rewrites segment 0
      upd(engine, "pv zero patched twice") // v3: supersedes v2's patch seg
      engine
    }
    // unprotected, retain=1: v2's dir holds no live segment and dies, so
    // the view's walk aborts at the missing step — honest rebuild
    val bare = build()
    bare.vacuum(retainVersions = 1)
    val vBare = viewed(bare.viewState("pv", "metadata['category']", Chars))
    assert(mode == "rebuild",
      "vacuumed walk window must fall back to rebuild")
    assert(collected(vBare) == direct(bare, "metadata['category']"))
    // protected: retention extends to the oldest view watermark, the
    // walk's dirs (and their materialized feeds) survive — O(delta)
    val prot = build()
    prot.vacuum(retainVersions = 1, protectViews = true)
    val vProt = viewed(prot.viewState("pv", "metadata['category']", Chars))
    assert(mode == "incremental",
      "protected vacuum must keep the behind view incremental")
    assert(collected(vProt) == direct(prot, "metadata['category']"))
    bare.clean(); prot.clean()
  }

  test("materializeFeeds=false skips the patch sidecar; consumers fall " +
      "back to their honest paths") {
    val dir = Files.createTempDirectory("memo_view_nofeed").toString
    val engine = new MemoEngine(spark, s"$dir/db", materializeFeeds = false)
    engine.save(yamlDoc("nf zero", Some("a")) + yamlDoc("nf one", Some("b")))
    engine.save(yamlDoc("nf two", Some("c"))) // 2 segments: patches prune
    viewed(engine.viewState("nf", "metadata['category']", Chars))
    import spark.implicits._
    engine.applyChanges(Seq(
        (0L, "updated", "nf zero patched", Map("category" -> "sa")))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L)))
    val live = engine.versions.max
    assert(!Files.isDirectory(java.nio.file.Paths.get(s"$dir/db")
        .resolve(s"v$live").resolve("changefeed")),
      "the write-heavy escape hatch must skip the sidecar write")
    // the single-step window still classifies — via the join fallback
    val ch = engine.changesBetween(live - 1, live).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == Set((0L, "updated")), s"fallback classification: $ch")
    // the view can't prove the patch step retractable: honest rebuild
    val v = viewed(engine.viewState("nf", "metadata['category']", Chars))
    assert(mode == "rebuild",
      "without the sidecar a patch step must recompute, never serve stale")
    assert(collected(v) == direct(engine, "metadata['category']"))
    engine.clean()
  }

  test("avg measures: served as DOUBLE sum/doc_count, retractable through " +
      "the SUM machinery") {
    import org.apache.spark.sql.types.DoubleType
    val (engine, _) = freshEngine()
    val key = "metadata['category']"
    engine.save(
      yamlW("a zero", "a", 3) + yamlW("a one", "a", 5) +
      "---\nbody: a unweighted\nmetadata: {category: a}\n" +
      yamlW("b zero", "b", 10))
    // the same expression under two aggregators: the stored state keeps
    // ONE sum per measure name; only the served projection differs
    val m = Seq("w_sum" -> W, "w_avg" -> W)
    val aggs = Map("w_avg" -> "avg")
    def rows(df: DataFrame): Map[String, (Long, Long, Double)] =
      df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val v1 = viewed(engine.viewState("av", key, m, aggs))
    assert(v1.schema("w_avg").dataType == DoubleType,
      "avg measures must serve as DOUBLE")
    assert(v1.schema("w_sum").dataType ==
      org.apache.spark.sql.types.LongType)
    // the unweighted row averages as ZERO (the universal 0-coercion),
    // denominated by the group's row count
    assert(rows(v1) == Map("sa" -> ((3L, 8L, 8.0 / 3)),
      "sb" -> ((1L, 10L, 10.0))), s"rebuild-arm avg wrong: ${rows(v1)}")
    // incremental append moves the average
    engine.save(yamlW("b one", "b", 4))
    val v2 = viewed(engine.viewState("av", key, m, aggs))
    assert(mode == "incremental")
    assert(rows(v2)("sb") == ((2L, 14L, 7.0)), s"append avg: ${rows(v2)}")
    // patch retraction: an update re-weights an 'a' row (3 → 9), a
    // remove drops the heavy 'b' row — both ride the SUM retraction,
    // nothing to exhaust, and the served division follows
    import spark.implicits._
    val feed = Seq(
      (0L, "updated", "a zero reweighted",
        Map("category" -> "sa", "weight" -> "i9")),
      (3L, "removed", "", Map.empty[String, String]))
      .toDF("id", "change", "body", "metadata")
      .withColumn("commit_version", lit(0L))
    engine.applyChanges(feed)
    val v3 = viewed(engine.viewState("av", key, m, aggs))
    assert(mode == "incremental")
    assert(rows(v3) == Map("sa" -> ((3L, 14L, 14.0 / 3)),
      "sb" -> ((1L, 4L, 4.0))), s"patched avg wrong: ${rows(v3)}")
    // the incremental state equals a direct recompute, division included
    val directAvg = engine.records
      .groupBy(expr(key).cast("string").as("group_key"))
      .agg(count(lit(1)).as("doc_count"),
        sum(coalesce(expr(s"try_cast(($W) AS BIGINT)"), lit(0L)))
          .as("w_sum"))
      .withColumn("w_avg", col("w_sum").cast("double") / col("doc_count"))
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows(v3) == directAvg)
    // sum→avg on the same name is a detected spec change (aggregator
    // participates in spec identity), not a silently re-served sum
    val v4 = viewed(engine.viewState("av", key, m,
      Map("w_avg" -> "avg", "w_sum" -> "avg")))
    assert(mode == "rebuild")
    assert(v4.schema("w_sum").dataType == DoubleType)
    engine.clean()
  }

  test("measures referencing metadata sum with nulls counted as zero") {
    val (engine, _) = freshEngine()
    engine.save(
      "---\nbody: priced note\nmetadata: {category: x, weight: 3}\n" +
      "---\nbody: unpriced note\nmetadata: {category: x}\n")
    // the measure yields '' / null on weightless rows — the engine's
    // try_cast coercion turns both into 0 instead of an ANSI cast error
    val measures = Seq("weight_sum" ->
      "regexp_extract(metadata['weight'], '^i?(-?\\\\d+)$', 1)")
    val v = viewed(engine.viewState("wv", "metadata['category']", measures))
    val row = v.collect()(0)
    assert(row.getString(0) == "sx" && row.getLong(1) == 2 && row.getLong(2) == 3,
      s"null measure must count as 0: $row")
    // incremental path agrees on the null-as-zero rule
    engine.save("---\nbody: another unpriced\nmetadata: {category: x}\n")
    val v2 = viewed(engine.viewState("wv", "metadata['category']", measures))
    assert(mode == "incremental")
    val row2 = v2.collect()(0)
    assert(row2.getLong(1) == 3 && row2.getLong(2) == 3)
    engine.clean()
  }

  // ---- sharded state publish -----------------------------------------

  /** The live state dir name recorded in a view's meta. */
  private def liveStateDir(db: String, view: String): String =
    graft.ops.ArtifactMeta.read(spark,
        java.nio.file.Paths.get(db).resolve(s"_view_$view").toString,
        "_view_meta")
      .map(_.split('|')(2)).get

  /** Every shard parquet file under a state dir's `_shard=*` dirs,
    * with its mtime. */
  private def shardFiles(db: String, view: String,
      stateDir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(db)
      .resolve(s"_view_$view").resolve(stateDir)
    val out = scala.collection.mutable.Map.empty[String, Long]
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.contains("_shard=") &&
        p.getFileName.toString.endsWith(".parquet"))
      .foreach(p => out(p.toString) =
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
    out.toMap
  }

  private def manifestLines(db: String, view: String,
      stateDir: String): Seq[String] =
    java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(db).resolve(s"_view_$view")
          .resolve(stateDir).resolve("_shards"))
      .asScala.toSeq.drop(1).filter(_.nonEmpty)

  test("sharded publish: a 1-group refresh rewrites only the touched " +
      "shard — untouched shards carry by REFERENCE, files untouched " +
      "(mtime-pinned), and the served frame stays exact") {
    val dir = Files.createTempDirectory("memo_view_shard").toString
    // tiny shard target so 64 groups spread over MANY shards
    val engine = new MemoEngine(spark, s"$dir/db", viewShardRows = 8)
    val key = "metadata['g']"
    engine.save((0 until 64).map(i =>
      s"---\nbody: shard corpus doc $i\nmetadata: {g: g$i}\n").mkString)
    viewed(engine.viewState("sh", key, Chars)).collect()
    assert(mode == "rebuild")
    val (w0, c0) = published
    assert(w0 >= 4 && c0 == 0,
      s"64 groups at shardRows=8 must split into several shards: ($w0, $c0)")
    val st0 = liveStateDir(s"$dir/db", "sh")
    val files0 = shardFiles(s"$dir/db", "sh", st0)
    assert(files0.nonEmpty)
    // ONE group changes: the refresh must rewrite one shard and carry
    // the rest by reference into the new manifest
    engine.save("---\nbody: appended into one group\nmetadata: {g: g7}\n")
    val served = viewed(engine.viewState("sh", key, Chars))
    assert(mode == "incremental")
    val (w1, c1) = published
    assert(w1 >= 1 && w1 <= 2 && c1 == w0 - w1,
      s"1-group delta must touch one shard of $w0: wrote $w1, carried $c1")
    val st1 = liveStateDir(s"$dir/db", "sh")
    assert(st1 != st0)
    // the new manifest references the OLD state dir for carried shards
    val lines = manifestLines(s"$dir/db", "sh", st1)
    assert(lines.count(_.contains(st0)) == c1,
      s"carried entries must point into $st0:\n${lines.mkString("\n")}")
    assert(lines.count(_.contains(st1)) == w1)
    // carried shard FILES were not rewritten: same mtimes
    val files1 = shardFiles(s"$dir/db", "sh", st0)
    val carriedSame = files0.filter { case (p, t) => files1.get(p).contains(t) }
    assert(carriedSame.size == files0.size,
      s"carried shard files must keep their mtimes: " +
        s"${files0.size - carriedSame.size} changed")
    // correctness across the carried+written union
    assert(collected(served) == direct(engine, key))
    engine.clean()
  }

  test("sharded publish: split-on-rewrite — a shard that grows past the " +
      "target splits into finer shards the next time its region is " +
      "touched; a superseded shard drops out of the manifest") {
    val dir = Files.createTempDirectory("memo_view_split").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewShardRows = 4)
    val key = "metadata['g']"
    engine.save((0 until 4).map(i =>
      s"---\nbody: seed doc $i\nmetadata: {g: g$i}\n").mkString)
    viewed(engine.viewState("sp", key, Chars)).collect()
    val (w0, _) = published
    assert(w0 == 1, s"4 groups at shardRows=4 is ONE shard, got $w0")
    val st0 = liveStateDir(s"$dir/db", "sp")
    // 28 new groups land in the single shard's region (it covers the
    // whole cell space): the rewrite must split
    engine.save((4 until 32).map(i =>
      s"---\nbody: growth doc $i\nmetadata: {g: g$i}\n").mkString)
    val served = viewed(engine.viewState("sp", key, Chars))
    assert(mode == "incremental")
    val (w1, c1) = published
    assert(w1 >= 4 && c1 == 0,
      s"32 groups through one wide shard must split on rewrite: ($w1, $c1)")
    val st1 = liveStateDir(s"$dir/db", "sp")
    val lines = manifestLines(s"$dir/db", "sp", st1)
    assert(!lines.exists(_.contains(st0)),
      s"the superseded wide shard must not be referenced:\n" +
        lines.mkString("\n"))
    assert(collected(served) == direct(engine, key))
    // and the NEXT 1-group refresh only touches one of the new shards
    engine.save("---\nbody: post split append\nmetadata: {g: g9}\n")
    viewed(engine.viewState("sp", key, Chars)).collect()
    val (w2, c2) = published
    assert(w2 <= 2 && c2 >= w1 - 2,
      s"post-split 1-group refresh must be narrow: ($w2, $c2)")
    engine.clean()
  }

  test("shard-level sweep: a superseded shard dir inside a KEPT state " +
      "dir falls once past the TTL, while referenced shards survive " +
      "and the served frame stays exact") {
    val dir = Files.createTempDirectory("memo_view_swp").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewShardRows = 8)
    val key = "metadata['g']"
    def doc(g: Int, tag: String) =
      s"---\nbody: sweep doc $tag\nmetadata: {g: g$g}\n"
    engine.save((0 until 64).map(i => doc(i, s"seed $i")).mkString)
    viewed(engine.viewState("sw", key, Chars)).collect()
    val st0 = liveStateDir(s"$dir/db", "sw")
    // refresh 2 supersedes ONE shard of st0 (rewritten into st1)
    engine.save(doc(7, "touch g7"))
    viewed(engine.viewState("sw", key, Chars)).collect()
    val st1 = liveStateDir(s"$dir/db", "sw")
    val viewRoot = java.nio.file.Paths.get(s"$dir/db").resolve("_view_sw")
    val lines1 = manifestLines(s"$dir/db", "sw", st1)
    val superseded = java.nio.file.Files.list(viewRoot.resolve(st0))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("_shard="))
      .filterNot(d => lines1.exists(
        _.split('|')(2) == s"$st0/${d.getFileName}"))
      .toList
    assert(superseded.size == 1,
      s"expected exactly one superseded shard in $st0, got $superseded")
    // young superseded dirs survive the next refresh (TTL guard) —
    // then age it past the TTL and refresh again: it must fall, while
    // every shard the live manifests reference stays
    engine.save(doc(9, "touch g9"))
    viewed(engine.viewState("sw", key, Chars)).collect()
    assert(java.nio.file.Files.exists(superseded.head),
      "a young superseded shard must survive (TTL window)")
    java.nio.file.Files.setLastModifiedTime(superseded.head,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3L * 60 * 60 * 1000))
    engine.save(doc(11, "touch g11"))
    val served = viewed(engine.viewState("sw", key, Chars))
    assert(!java.nio.file.Files.exists(superseded.head),
      "an aged superseded shard must be swept")
    val stLive = liveStateDir(s"$dir/db", "sw")
    val refd = manifestLines(s"$dir/db", "sw", stLive)
    refd.foreach { l =>
      val rel = l.split('|')(2)
      assert(java.nio.file.Files.isDirectory(viewRoot.resolve(rel)),
        s"referenced shard $rel must survive the sweep")
    }
    assert(collected(served) == direct(engine, key))
    engine.clean()
  }

  test("vacuum sweeps a view that stopped folding: an aged superseded " +
      "shard falls with no further refresh, referenced shards survive and " +
      "the served frame is unchanged") {
    val dir = Files.createTempDirectory("memo_view_vac").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewShardRows = 8)
    val key = "metadata['g']"
    def doc(g: Int, tag: String) =
      s"---\nbody: vacuum doc $tag\nmetadata: {g: g$g}\n"
    engine.save((0 until 64).map(i => doc(i, s"seed $i")).mkString)
    viewed(engine.viewState("vs", key, Chars)).collect()
    val st0 = liveStateDir(s"$dir/db", "vs")
    // the last fold: it supersedes ONE shard of st0 and carries the rest
    engine.save(doc(7, "touch g7"))
    val before = collected(viewed(engine.viewState("vs", key, Chars)))
    val st1 = liveStateDir(s"$dir/db", "vs")
    val viewRoot = java.nio.file.Paths.get(s"$dir/db").resolve("_view_vs")
    val lines1 = manifestLines(s"$dir/db", "vs", st1)
    val superseded = java.nio.file.Files.list(viewRoot.resolve(st0))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("_shard="))
      .filterNot(d => lines1.exists(
        _.split('|')(2) == s"$st0/${d.getFileName}"))
      .toList
    assert(superseded.size == 1,
      s"expected exactly one superseded shard in $st0, got $superseded")
    def age(p: java.nio.file.Path) = java.nio.file.Files.setLastModifiedTime(
      p, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3L * 60 * 60 * 1000))
    age(superseded.head)
    engine.vacuum()
    // the pointer was just swung: a lock-free reader may still hold st0
    assert(java.nio.file.Files.exists(superseded.head),
      "vacuum swept a shard the previous state references before its " +
        "pointer aged")
    age(viewRoot.resolve("_view_meta"))
    engine.vacuum()
    assert(!java.nio.file.Files.exists(superseded.head),
      "vacuum must sweep an aged superseded shard")
    assert(liveStateDir(s"$dir/db", "vs") == st1, "vacuum moved the state")
    lines1.foreach { l =>
      val rel = l.split('|')(2)
      assert(java.nio.file.Files.isDirectory(viewRoot.resolve(rel)),
        s"referenced shard $rel must survive the sweep")
    }
    val after = collected(viewed(engine.viewState("vs", key, Chars)))
    assert(after == before && after == direct(engine, key))
    engine.clean()
  }

  test("legacy (pre-shard) state upgrades in place: served as one wide " +
      "shard, fully rewritten ONCE on the first refresh, sharded " +
      "thereafter") {
    val dir = Files.createTempDirectory("memo_view_legacy").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewShardRows = 8)
    val key = "metadata['g']"
    engine.save((0 until 32).map(i =>
      s"---\nbody: legacy doc $i\nmetadata: {g: g$i}\n").mkString)
    viewed(engine.viewState("lg", key, Chars)).collect()
    val viewDirS = java.nio.file.Paths.get(s"$dir/db").resolve("_view_lg")
    val st0 = liveStateDir(s"$dir/db", "lg")
    // fabricate the legacy layout: the same state as ONE flat parquet
    // dir with no manifest, meta re-pointed at it
    val legacy = viewDirS.resolve("state-legacy").toString
    spark.read.parquet(viewDirS.resolve(st0).toString)
      .drop("_shard")
      .write.parquet(legacy)
    val meta = graft.ops.ArtifactMeta
      .read(spark, viewDirS.toString, "_view_meta").get.split('|')
    graft.ops.ArtifactMeta.write(spark, viewDirS.toString, "_view_meta",
      s"${meta(0)}|${meta(1)}|state-legacy")
    // fresh serve reads the legacy dir whole
    val servedLegacy = viewed(engine.viewState("lg", key, Chars))
    assert(mode == "fresh")
    assert(collected(servedLegacy) == direct(engine, key))
    // first refresh: the legacy state is one wide shard — rewritten
    // whole (carried 0), published SHARDED
    engine.save("---\nbody: upgrade append\nmetadata: {g: g3}\n")
    val servedUp = viewed(engine.viewState("lg", key, Chars))
    assert(mode == "incremental")
    val (w1, c1) = published
    assert(c1 == 0 && w1 >= 2,
      s"legacy upgrade is one full rewrite into shards: ($w1, $c1)")
    assert(collected(servedUp) == direct(engine, key))
    // thereafter: narrow refreshes carry
    engine.save("---\nbody: post upgrade append\nmetadata: {g: g5}\n")
    viewed(engine.viewState("lg", key, Chars)).collect()
    val (w2, c2) = published
    assert(w2 <= 2 && c2 > 0,
      s"post-upgrade refresh must carry untouched shards: ($w2, $c2)")
    engine.clean()
  }

  test("the shard manifest records per-shard group counts at write " +
      "time; carried entries keep theirs verbatim across a refresh") {
    val dir = Files.createTempDirectory("memo_view_rows").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewShardRows = 8)
    val key = "metadata['g']"
    engine.save((0 until 64).map(i =>
      s"---\nbody: rows corpus doc $i\nmetadata: {g: g$i}\n").mkString)
    viewed(engine.viewState("rw", key, Chars)).collect()
    val st0 = liveStateDir(s"$dir/db", "rw")
    val lines0 = manifestLines(s"$dir/db", "rw", st0)
    val counts0 = lines0.map(_.split('|')).map(p => p(2) -> p(3).toLong)
    assert(counts0.forall(_._2 >= 1),
      s"every written shard must record its count:\n${lines0.mkString("\n")}")
    assert(counts0.map(_._2).sum == 64L,
      s"counts must sum to the group total:\n${lines0.mkString("\n")}")
    // 1-group refresh: the carried entries' lines survive VERBATIM
    // (path AND recorded count), only the touched shard re-counts
    engine.save("---\nbody: rows touch\nmetadata: {g: g7}\n")
    viewed(engine.viewState("rw", key, Chars)).collect()
    val st1 = liveStateDir(s"$dir/db", "rw")
    val lines1 = manifestLines(s"$dir/db", "rw", st1)
    val carried = lines1.filter(_.contains(st0))
    assert(carried.nonEmpty && carried.forall(lines0.contains),
      s"carried entries must keep their recorded counts:\n" +
        s"before:\n${lines0.mkString("\n")}\nafter:\n${lines1.mkString("\n")}")
    assert(lines1.map(_.split('|')(3).toLong).sum == 64L)
    engine.clean()
  }

  test("viewFragmentation prices the state off the manifest (no job); " +
      "compactView re-grids a churned-then-shrunk state in ONE locked " +
      "rewrite — serve parity, fragmentation back to 1, and the next " +
      "refresh merges into the compacted layout incrementally") {
    val dir = Files.createTempDirectory("memo_view_compact").toString
    val engine = new MemoEngine(spark, s"$dir/db", viewShardRows = 8)
    val key = "metadata['g']"
    // FOUR segments so the shrink patches below stay segment-pruned —
    // a patch touching every segment is an unprovable rewrite and the
    // view would take the honest REBUILD arm, which re-grids uniformly
    // and erases the very fragmentation this test exists to create
    (0 until 64).grouped(16).foreach(b => engine.save(b.map(i =>
      s"---\nbody: compact corpus doc $i\nmetadata: {g: g$i}\n").mkString))
    viewed(engine.viewState("cp", key, Chars)).collect()
    val frag0 = engine.viewFragmentation("cp").get
    assert(frag0 <= 1.5, s"a fresh rebuild is near-uniform: $frag0")
    // a uniform state must NOT compact, and the skip touches no files
    val st0 = liveStateDir(s"$dir/db", "cp")
    val files0 = shardFiles(s"$dir/db", "cp", st0)
    assert(!engine.compactView("cp"))
    assert(liveStateDir(s"$dir/db", "cp") == st0)
    assert(shardFiles(s"$dir/db", "cp", st0) == files0,
      "a skipped compact must not rewrite any shard file")
    // churn-then-shrink in two INCREMENTAL patch windows: retract the
    // first three segments' 48 groups, then half of the last segment —
    // the 8 survivors stay spread across the FINE grid the 64-group
    // state split into, so shard count dwarfs the ideal for 8 groups
    import spark.implicits._
    def removeIds(ids: Seq[Long]): Unit = {
      engine.applyChanges(ids
        .map(i => (i, "removed", "", Map.empty[String, String]))
        .toDF("id", "change", "body", "metadata")
        .withColumn("commit_version", lit(0L)))
      viewed(engine.viewState("cp", key, Chars)).collect()
      assert(mode.startsWith("incremental"),
        s"shrink patch must refresh incrementally, got ${mode}")
    }
    removeIds(0L to 47L)
    removeIds(48L to 55L)
    val servedBefore = collected(viewed(engine.viewState("cp", key, Chars)))
    assert(servedBefore.size == 8)
    val frag1 = engine.viewFragmentation("cp").get
    assert(frag1 > 2.0,
      s"8 survivors over the 64-group grid must fragment: $frag1")
    val stBefore = liveStateDir(s"$dir/db", "cp")
    val shardsBefore =
      manifestLines(s"$dir/db", "cp", stBefore).size
    assert(engine.compactView("cp", maxFragmentation = 2.0),
      "past-threshold fragmentation must fire the rewrite")
    val stAfter = liveStateDir(s"$dir/db", "cp")
    assert(stAfter != stBefore, "compact publishes a NEW state dir")
    val linesAfter = manifestLines(s"$dir/db", "cp", stAfter)
    assert(linesAfter.size < shardsBefore,
      s"compact must reduce the shard count: $shardsBefore -> " +
        s"${linesAfter.size}")
    assert(linesAfter.forall(_.contains(stAfter)),
      "a compacted manifest carries nothing by reference")
    assert(engine.viewFragmentation("cp").get <= 1.0 + 1e-9)
    // serve parity through the lock-free fresh arm (same version, same
    // spec — compact is pure re-layout)
    val served = viewed(engine.viewState("cp", key, Chars))
    assert(mode == "fresh")
    assert(collected(served) == servedBefore)
    assert(collected(served) == direct(engine, key))
    // the next refresh merges INTO the compacted state incrementally
    engine.save("---\nbody: post compact append\nmetadata: {g: g0}\n")
    val v2 = viewed(engine.viewState("cp", key, Chars))
    assert(mode == "incremental")
    assert(collected(v2) == direct(engine, key))
    // compacted-and-current: the maintenance walk reports the skip
    val report = engine.maintain(compactFragmentation = Some(2.0))
    assert(report.get("compact:cp").exists(_.startsWith("skipped")),
      s"uniform post-compact state must skip: $report")
    engine.clean()
  }
}
