package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.filter.{KeyStats, SegmentStats}
import graft.filter.SegmentStats.{MaxKeys, MaxVals}
import graft.functions.GraftFunctions.{metaNum, metaPyStr}

/** The three-aggregation Catalyst form of [[SegmentStats.compute]] —
  * header aggregate, per-key groupBy → orderBy → limit, and a
  * union/distinct/row_number dictionary pass over a cached frame — kept
  * verbatim as the differential reference for the single-job fold that
  * replaced it (SegmentStatsFoldSpec). Not on any production path. */
object SegmentStatsReference {

  def compute(dfIn: DataFrame, maxKeys: Int = MaxKeys,
      maxVals: Int = MaxVals): (Option[(Long, Long)], SegmentStats) = {
    require(maxKeys >= 1 && maxVals >= 1,
      s"stats caps must be >= 1, got (maxKeys=$maxKeys, maxVals=$maxVals)")
    val df = dfIn.cache()
    try computeCached(df, maxKeys, maxVals) finally df.unpersist()
  }

  private def computeCached(df: DataFrame, maxKeys: Int, maxVals: Int)
      : (Option[(Long, Long)], SegmentStats) = {
    val header = df.agg(
      count(lit(1)), count(when(size(col("metadata")) > 0, 1)),
      min(col("id")), max(col("id"))).collect()(0)
    val rows = header.getLong(0)
    val nMeta = header.getLong(1)
    val idRange =
      if (header.isNullAt(2)) None
      else Some((header.getLong(2), header.getLong(3)))
    // a segment with NO non-empty metadata (nMeta == 0 — the streaming
    // ingest steady state, where bodies arrive bare) provably yields an
    // empty key set: explode(metadata) emits no rows, so the per-key
    // aggregation and both dictionary passes would return empty. Skip
    // them — two Spark jobs plus their planning, per micro-batch commit
    // — and return the identical (complete, key-less) stats directly.
    if (nMeta == 0L)
      return (idRange, SegmentStats(rows, 0L, keysComplete = true, Map.empty))
    val kv = df.select(explode(col("metadata")).as(Seq("k", "v")))
    val v = col("v")
    val isList = v.startsWith("l")
    val numV = metaNum(v)
    val isNum = numV.isNotNull
    val isStr = v.startsWith("s") // the exact class $prefix accepts
    val pys = metaPyStr(v)
    val payload = v.substr(lit(2), length(v))
    val collected = kv.groupBy("k").agg(
      count(lit(1)).as("n"),
      count(when(isList, 1)).as("nList"),
      count(when(isNum, 1)).as("nNum"),
      count(when(isStr, 1)).as("nStr"),
      min(pys).as("pysMin"), max(pys).as("pysMax"),
      min(numV).as("numMin"), max(numV).as("numMax"),
      min(when(!isNum, pys)).as("nnsMin"),
      max(when(!isNum, pys)).as("nnsMax"),
      min(when(isStr, payload)).as("strMin"),
      max(when(isStr, payload)).as("strMax"))
      .orderBy(desc("n"), col("k")) // deterministic under the cap
      .limit(maxKeys + 1)
      .collect()
    val complete = collected.length <= maxKeys
    // only the KEPT keys get dictionaries — keys beyond the MaxKeys cap
    // are discarded from the sidecar anyway, so scoping the dictionary
    // aggregation to this (≤ MaxKeys, driver-known) set bounds its
    // driver collect to MaxKeys × (maxVals + 1) strings BY CONSTRUCTION,
    // whatever the segment's key cardinality
    val keptKeys = collected.take(maxKeys).map(_.getString(0)).toSeq
    // exact capped dictionaries: the distinct str() renderings per key,
    // of scalar VALUES and of well-formed list values' ELEMENTS. The
    // per-key cap is enforced BEFORE any per-key collection (distinct →
    // rank ≤ cap+1), so no aggregation state ever holds more than
    // cap+1 strings per key, whatever the segment's cardinality.
    // BOTH dictionary families (scalar values, list elements) in ONE
    // job: the two pair frames union under a side tag and share the
    // distinct → rank-cap → collect pass. On the streaming-ingest path
    // this runs once per micro-batch commit, where each extra driver
    // action is pure scheduler overhead (the segments are small) — the
    // r14 pairs leg priced the sidecar write at ~14% of s94.
    def capped(pairs: DataFrame): Map[(String, String), Option[Set[String]]] = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("side", "k").orderBy("v")
      pairs.filter(col("k").isin(keptKeys: _*))
        .distinct()
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= maxVals + 1)
        .groupBy("side", "k").agg(collect_list(col("v")).as("vs"))
        .collect()
        .map { r =>
          val vs = r.getSeq[String](2)
          (r.getString(0), r.getString(1)) ->
            (if (vs.length > maxVals) None else Some(vs.toSet))
        }.toMap
    }
    val dicts = capped(
      kv.filter(!isList).select(lit("v").as("side"), col("k"), pys.as("v"))
        .unionByName(kv.filter(isList)
          .select(col("k"), explode(from_json(payload,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType))).as("e"))
          .select(lit("e").as("side"), col("k"),
            metaPyStr(col("e")).as("v"))))
    val valDicts = dicts.collect { case (("v", k), d) => k -> d }
    val elemDicts = dicts.collect { case (("e", k), d) => k -> d }
    val keys = collected.take(maxKeys).map { r =>
      def optS(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
      def optD(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      val k = r.getString(0)
      val nList = r.getLong(2)
      k -> KeyStats(
        r.getLong(1), nList, r.getLong(3), r.getLong(4),
        r.getString(5), r.getString(6),
        optD(7), optD(8), optS(9), optS(10), optS(11), optS(12),
        // a key with no scalar rows has a provably EMPTY scalar
        // dictionary (and symmetrically for elements of a list-free
        // key): membership tests on them prune every operand
        vals = valDicts.getOrElse(k, Some(Set.empty)),
        elems = elemDicts.getOrElse(k,
          if (nList == 0) Some(Set.empty) else None))
    }.toMap
    (idRange, SegmentStats(rows, nMeta, complete, keys))
  }
}
