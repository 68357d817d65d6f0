package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.memo.MemoOps
import graft.ops.{BucketCap, Dedup, IvfIndex, Multimodal, PqIndex}

/** Scale-path + remaining-inventory coverage: IVF ANN, multimodal decode
  * plumbing, date-range stats (A10), overwrite merge (M2). */
object ScaleQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** Centroids from the latest IVF build in this JVM — a hot-path shortcut
    * only. Centroid training is engine-side (hash-ordered sample +
    * Lloyd's — not SQL-replayable), but everything DOWNSTREAM of the
    * centroid matrix is deterministic double arithmetic, so [[oracles]]
    * exports the trained matrix as a literal DuckDB VALUES table and
    * replays assignment + probe + re-rank exactly. When this JVM has not
    * run an IVF query, [[ivfOracles]] falls back to reading the matrix off
    * the persisted index's `_ivf_centroids` artifact, so the oracle map is
    * a pure function of on-disk state (cold-JVM inspection emits the same
    * replays the warm path does). */
  @volatile private var lastIvfCentroids: Option[Array[Array[Float]]] = None

  /** Test hook: forget the in-JVM centroid shortcut so a spec can exercise
    * the cold (artifact-backed) oracle path. */
  private[graft] def resetIvfOracleCache(): Unit = lastIvfCentroids = None

  /** Per-session serving HANDLES, all through [[SessionHandles]]: an ANN
    * serving deployment opens its index once and probes it many times —
    * revalidating the stamp (a corpus fingerprint job) and re-listing the
    * parquet layout per query would charge every probe an open cost no
    * real serving path pays. First use in a session builds/validates; the
    * handle is then reused, with the cache's LRU bound and
    * application-end eviction. NOTE the handle pins the artifact's file
    * LISTING: a same-session append to the artifact needs a fresh session
    * (or handle eviction) to become visible — serving-handle semantics. */
  private[graft] def ivfHandleCount: Int = SessionHandles.size
  private[graft] def pqHandleCount: Int = SessionHandles.size

  /** Shared build-once index for q36/q37 (stamp-checked; first caller pays
    * the build, every probe after that is partition-pruned reads). */
  private def ivfIndex(s: SparkSession, dir: String): (DataFrame, Array[Array[Float]]) = {
    val handle = SessionHandles.cached(s, s"q36_ivf:$dir") {
      val emb = Tables(s, dir, "embeddings")
      val idxPath = ivfIndexPath(dir)
      // train on a sample: centroids only gate probe cells, and at 100 TB
      // the quantizer would always be fit on a sample, never the corpus
      val centroids = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding",
        nlist = 16, idxPath, sampleFraction = 0.3)
      (IvfIndex.load(s, idxPath), centroids)
    }
    lastIvfCentroids = Some(handle._2)
    handle
  }

  private def ivfIndexPath(dir: String): String =
    SessionHandles.tmpArtifactPath("q36_ivf", dir)

  /** PQ serving config for q39/q67 at embedding dim 64: m=8 one-byte codes
    * per row vs 256 raw bytes — the same 32× scan compression the
    * production 384-dim/m=48 shape has. ksub=16 keeps the oracle's
    * codebook literal small; recall comes from the refine pass. */
  private val PqM = 8
  private val PqKsub = 16

  @volatile private var lastPqCodebooks: Option[Array[Array[Array[Float]]]] = None

  /** Test hook: forget the in-JVM codebook shortcut ([[resetIvfOracleCache]]
    * twin). */
  private[graft] def resetPqOracleCache(): Unit = lastPqCodebooks = None

  private def pqIndexPath(dir: String): String =
    SessionHandles.tmpArtifactPath("q39_pq", dir)

  /** Shared build-once PQ codes artifact for q39/q67 ([[ivfIndex]]'s
    * lifecycle: stamp-checked build, per-session handle, LRU + cleanup). */
  private def pqIndex(s: SparkSession, dir: String): (DataFrame, Array[Array[Array[Float]]]) = {
    val handle = SessionHandles.cached(s, s"q39_pq:$dir") {
      val emb = Tables(s, dir, "embeddings")
      val path = pqIndexPath(dir)
      val cbs = PqIndex.buildIfAbsent(emb, "vec_id", "embedding",
        PqM, PqKsub, path)
      (PqIndex.loadCodes(s, path), cbs)
    }
    lastPqCodebooks = Some(handle._2)
    handle
  }

  /** The query vector for q39/q67 (vec_id 0) — fetched at the driver
    * because PQ serving computes the ADC lookup table there by design
    * (the LUT is a plan constant, [[PqIndex.adcLut]]). */
  private def pqQueryVec(s: SparkSession, dir: String): Array[Float] =
    Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).toArray

  /** PQ ADC top-20 over the at-rest codes artifact: the 32×-narrower scan
    * (8 code bytes vs 256 embedding bytes per row; the scan's ReadSchema
    * never includes the raw vectors — pinned in PqIndexSpec). Oracled by a
    * full DuckDB replay against the exported codebooks. */
  private val q39PqAdc: Q = (s, dir) => {
    val (codes, cbs) = pqIndex(s, dir)
    PqIndex.searchAdc(codes, cbs, pqQueryVec(s, dir), k = 20)
  }

  /** PQ candidates + exact re-rank (the full PQ serving recipe): ADC
    * top-40 off the codes artifact, exact cosine over just those 40 raw
    * vectors, top-10. Quantization error affects only candidate RECALL,
    * never the final ordering. */
  private val q67PqRefine: Q = (s, dir) => {
    val (codes, cbs) = pqIndex(s, dir)
    PqIndex.searchAdcRefine(Tables(s, dir, "embeddings"), "vec_id",
      "embedding", codes, cbs, pqQueryVec(s, dir), k = 10, refine = 4)
  }

  @volatile private var lastIvfPqMeta: Option[(Array[Array[Float]], Array[Array[Array[Float]]])] = None

  /** Test hook ([[resetIvfOracleCache]] twin). */
  private[graft] def resetIvfPqOracleCache(): Unit = lastIvfPqMeta = None

  private def ivfPqPath(dir: String): String =
    SessionHandles.tmpArtifactPath("q68_ivfpq", dir)

  private def ivfPqIndex(s: SparkSession, dir: String): (DataFrame, Array[Array[Float]], Array[Array[Array[Float]]]) = {
    val handle = SessionHandles.cached(s, s"q68_ivfpq:$dir") {
      val emb = Tables(s, dir, "embeddings")
      val path = ivfPqPath(dir)
      val cents = IvfIndex.buildIfAbsent(emb, "vec_id", "embedding",
        nlist = 16, path, pq = Some((PqM, PqKsub)))
      (IvfIndex.load(s, path), cents,
        IvfIndex.metaAt(s, path).flatMap(_.codebooks).get)
    }
    lastIvfPqMeta = Some((handle._2, handle._3))
    handle
  }

  /** IVF-PQ: the two scale levers composed — a 4-of-16-cell partition
    * prune AND the 32×-narrower ADC code scan inside the surviving cells,
    * then exact re-rank. What a 100 TB ANN deployment actually runs; at
    * that scale the candidate stage reads ~1/4 of the files at ~1/32 of
    * the bytes per row before any ranking work. */
  private val q68IvfPq: Q = (s, dir) => {
    val (idx, cents, cbs) = ivfPqIndex(s, dir)
    PqIndex.searchIvfPq(idx, cents, cbs, pqQueryVec(s, dir), k = 10,
        nprobe = 4, refine = 4)
      .select(col("id").as("vec_id"), col("score"))
  }

  /** Batch ADC serving over the IVF-PQ artifact (q37's shape on compressed
    * storage): top-3 per query for a query batch in one pass over the
    * probed cells' code files — decode-once-per-row, dot per probing
    * query, bounded-heap top-k before the only shuffle. */
  private val q69PqBatch: Q = (s, dir) => {
    val (idx, cents, cbs) = ivfPqIndex(s, dir)
    val queries = Tables(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    PqIndex.searchBatchAdc(idx, cents, cbs, queries, "query_id", "qv",
        k = 3, nprobe = 4)
      .select(col("query_id"), col("id").as("vec_id"), col("adc_score"))
      .orderBy(col("query_id"), desc("adc_score"), col("vec_id"))
  }

  /** Embedding-cosine near-dup pairs, cluster-partitioned (SemDeDup —
    * [[graft.ops.Dedup.semanticPairs]]): assign corpus ∪ planted twins
    * (vec_id + 100000, identical embedding — cosine exactly 1.0 after
    * rounding, cells agree by assignment determinism) to the q36
    * quantizer's cells, then exact-cosine verify WITHIN cells only. The
    * embedding-space member of the dedup family: candidate cost is the
    * sum of per-cell squares, never corpus². Like q42/q43, the oracle leg
    * runs uncapped (BucketCap evicts LARGEST ids first — exactly the
    * twins); hot-cell eviction is DedupSpec's cap test. */
  private val q86SemDedup: Q = (s, dir) => {
    val (_, centroids) = ivfIndex(s, dir)
    val emb = Tables(s, dir, "embeddings")
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val assigned = IvfIndex.build(planted, "vec_id", "embedding", centroids)
    Dedup.semanticPairs(assigned, minCos = 0.95, bucketCap = BucketCap.Uncapped)
      .orderBy(col("a"), col("b"))
  }

  /** IVF ANN top-20 over a PERSISTED `partitionBy(cell_id)` parquet index —
    * the build-once / probe-many lifecycle of a real ANN index (index build
    * cost is measured separately by q34): first call trains a
    * bounded-sample quantizer, runs the codegen assignment pass, and writes
    * the cell-partitioned layout; every probe then reads only the nprobe
    * cells' files via partition pruning, with the query vector kept in the
    * plan ([[IvfIndex.searchDf]] — no driver action fetches it). Oracled by
    * a full DuckDB replay against the exported centroid matrix. */
  private val q36IvfAnn: Q = (s, dir) => {
    val (index, centroids) = ivfIndex(s, dir)
    val queryDf = Tables(s, dir, "embeddings")
      .filter(col("vec_id") === 0).select("embedding")
    IvfIndex.searchDf(index, centroids, queryDf, k = 20, nprobe = 4)
  }

  /** Batch ANN serving: top-3 per query for a query batch in ONE pass over
    * the probed cells ([[IvfIndex.searchBatch]] — per-query probe cells,
    * broadcast probe set, bounded-heap top-k before the only shuffle). The
    * q37 twin of q32's exact batch kNN, on the approximate scale path. */
  private val q37IvfBatch: Q = (s, dir) => {
    val (index, centroids) = ivfIndex(s, dir)
    val queries = Tables(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    IvfIndex.searchBatch(index, centroids, queries, "query_id", "qv",
        k = 3, nprobe = 4)
      .select(col("query_id"), col("id").as("vec_id"), col("score"))
      .orderBy(col("query_id"), desc("score"), col("vec_id"))
  }

  /** Filtered BATCH ANN (the r14 pipeline twin of the engine's filtered
    * serving paths): q37's one-scan probe-join shape with a candidate
    * MASK — English documents' ids semi-join the index once, so every
    * query's top-k is computed among filter survivors of its probed
    * cells. The oracle replays assignment + probe + the survivor join +
    * cosine + per-query top-k off the exported centroid matrix. */
  private val q103FilteredBatch: Q = (s, dir) => {
    val (index, centroids) = ivfIndex(s, dir)
    val queries = Tables(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val mask = Tables(s, dir, "documents")
      .filter(col("lang") === "en").select(col("doc_id").as("id"))
    IvfIndex.searchBatch(index, centroids, queries, "query_id", "qv",
        k = 3, nprobe = 4, allowed = Some(mask))
      .select(col("query_id"), col("id").as("vec_id"), col("score"))
      .orderBy(col("query_id"), desc("score"), col("vec_id"))
  }

  /** Batch filtered ANN with the EXACT-FILL contract (the r15 per-query
    * widening ladder, [[IvfIndex.searchBatchFill]]): a mask of EIGHT
    * survivors (vec_id < 8 — constant at every SF) against k = 10 can
    * never fill, so every query must starve through the whole ladder to
    * the full probe, where the batch result IS the exact filtered
    * ranking — which makes the oracle a STATIC cosine replay,
    * independent of the trained centroids. The build asserts the
    * widening fired and reached the full cell set (rungs ≥ 1 alone
    * would pass a ladder that stopped early); the engine-level parity —
    * widened batch == per-query widening, ids and scores, at a
    * selective-but-fillable mask — is MemoEngineSpec's batch pins.
    * nprobe starts at nlist/2 so the measured ladder is ONE rung (the
    * bench prices the widening mechanism, not log₂(nlist) sequential
    * job rounds; the deep ladder is spec territory). */
  private val q106BatchFill: Q = (s, dir) => {
    val (index, centroids) = ivfIndex(s, dir)
    val queries = Tables(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val mask = Tables(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("id"))
    val (hits, (np, rungs)) = IvfIndex.searchBatchFill(index, centroids,
      queries, "query_id", "qv", k = 10,
      nprobe = math.max(centroids.length / 2, 1),
      allowed = Some(mask))
    require(rungs >= 1 && np == centroids.length,
      s"q106 expected the batch ladder to widen to the full probe, " +
        s"got (np=$np, rungs=$rungs)")
    hits.select(col("query_id"), col("id").as("vec_id"), col("score"))
      .orderBy(col("query_id"), desc("score"), col("vec_id"))
  }

  /** q106's contract on the COMPRESSED family (the r15 batch refine +
    * fill ladder, [[PqIndex.searchBatchFillIvfPq]]): the same
    * eight-survivor mask against k = 10 walks the ladder to the full
    * probe, where the ADC cut (k×refine = 40 ≥ 8 survivors) passes
    * every survivor and the refine re-rank is the EXACT filtered cosine
    * ranking — the identical static oracle, now reached through m-byte
    * codes + per-query refine instead of raw-vector scoring; PQ
    * quantization affects only which candidates the cut keeps, and with
    * every survivor kept it cannot affect the result at all. */
  private val q108PqBatchFill: Q = (s, dir) => {
    val (idx, cents, cbs) = ivfPqIndex(s, dir)
    val queries = Tables(s, dir, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val mask = Tables(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("id"))
    val (hits, (np, rungs)) = PqIndex.searchBatchFillIvfPq(idx, cents,
      cbs, queries, "query_id", "qv", k = 10,
      nprobe = math.max(cents.length / 2, 1), refine = 4,
      allowed = Some(mask))
    require(rungs >= 1 && np == cents.length,
      s"q108 expected the pq batch ladder to widen to the full probe, " +
        s"got (np=$np, rungs=$rungs)")
    hits.select(col("query_id"), col("id").as("vec_id"), col("score"))
      .orderBy(col("query_id"), desc("score"), col("vec_id"))
  }

  /** Build-once/register-per-session lifecycle for an at-rest bucketed
    * table: first run writes the bucketed layout (stamped), later sessions
    * re-attach the existing files to their catalog without rewriting —
    * the ingest-time bucketing a 100 TB deployment amortizes across every
    * subsequent join. */
  private[graft] def bucketedTable(s: SparkSession, dir: String, name: String,
      key: String, buckets: Int)(make: => DataFrame): String = {
    val tag = (dir.hashCode & 0x7fffffff).toHexString
    val tbl = s"graft_q38_${name}_$tag"
    if (s.catalog.tableExists(tbl)) return tbl
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"${tbl}_data").toString
    val df = make
    // count + content fingerprint: an in-place source regeneration with an
    // identical row count invalidates the bucketed copy (ArtifactMeta
    // scaladoc) — the stamp check costs one scan of the (already pruned)
    // join columns, paid once per session at registration
    val (n, fp) = graft.ops.ArtifactMeta.fingerprint(df)
    val stamp = s"$n:$buckets:$key:fp$fp"
    if (graft.ops.ArtifactMeta.read(df, path, "_bucket_meta").contains(stamp))
      graft.ops.JoinOps.registerBucketed(s, tbl, path, df.schema.toDDL,
        key, buckets)
    else graft.ops.ArtifactMeta.withBuildLock(df, path) {
      // double-checked under the build lock: a racing writer may have
      // finished the layout while we waited — re-attach instead of rewrite
      if (graft.ops.ArtifactMeta.read(df, path, "_bucket_meta").contains(stamp))
        graft.ops.JoinOps.registerBucketed(s, tbl, path, df.schema.toDDL,
          key, buckets)
      else {
        graft.ops.JoinOps.writeBucketed(df, tbl, path, key, buckets)
        graft.ops.ArtifactMeta.write(df, path, "_bucket_meta", stamp)
      }
    }
    tbl
  }

  /** The join side of q38, exposed for the plan pin: two at-rest bucketed
    * tables joined on their bucket key — NO exchange and NO sort on either
    * side (the scans themselves report the hash partitioning/ordering).
    * The merge hint keeps the small side from being broadcast, since the
    * point is the storage-level co-location. */
  def q38BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val ordersTbl = bucketedTable(s, dir, "orders", "o_custkey", 8) {
      Tables(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
    }
    val custTbl = bucketedTable(s, dir, "cust", "c_custkey", 8) {
      Tables(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    }
    s.table(ordersTbl).hint("merge")
      .join(s.table(custTbl), col("o_custkey") === col("c_custkey"))
  }

  /** Revenue per market segment over the two bucketed tables — the at-rest
    * co-located join under the driver harness (plan shape pinned in
    * PlanSpec: zero exchanges below the join). */
  private val q38Bucketed: Q = (s, dir) =>
    q38BucketedJoin(s, dir)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.GraftFunctions.round2(sum(col("o_totalprice")))
          .as("total"))
      .orderBy(col("c_mktsegment"))

  /** Build-once `partitionBy(ship month)` copy of lineitem — the at-rest
    * layout dynamic partition pruning needs (same stamp lifecycle as the
    * q38 bucketed tables: count + content fingerprint, paid once per
    * freshness check). At 100 TB you partition the fact table by its time
    * key at ingest; every time-bounded join after that reads only the
    * surviving month directories. */
  private[graft] def dppLineitem(s: SparkSession, dir: String): DataFrame =
    SessionHandles.cached(s, s"q70_dpp:$dir") {
      s.read.parquet(dppLineitemIfAbsent(s, dir))
    }

  /** Ensure the month-partitioned copy exists and is fresh (stamp = count
    * + content fingerprint, [[graft.ops.ArtifactMeta]]); returns its path.
    * Exposed for the stamp spec. */
  private[graft] def dppLineitemIfAbsent(s: SparkSession, dir: String): String = {
    val path = SessionHandles.tmpArtifactPath("q70_dpp", dir)
    val src = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"),
        date_format(col("l_shipdate"), "yyyy-MM").as("l_shipmonth"))
    val (n, fp) = graft.ops.ArtifactMeta.fingerprint(src)
    val stamp = s"$n:l_shipmonth:fp$fp"
    if (!graft.ops.ArtifactMeta.read(src, path, "_dpp_meta").contains(stamp))
      graft.ops.ArtifactMeta.withBuildLock(src, path) {
        // double-checked: reuse a racing builder's finished copy
        if (!graft.ops.ArtifactMeta.read(src, path, "_dpp_meta").contains(stamp)) {
          src.repartition(col("l_shipmonth"))
            .write.mode("overwrite").partitionBy("l_shipmonth").parquet(path)
          graft.ops.ArtifactMeta.write(src, path, "_dpp_meta", stamp)
        }
      }
    path
  }

  /** The join side of q70, exposed for the plan pin: partitioned fact ⨝
    * filtered dim on the PARTITION column. The dim's surviving months are
    * only known at runtime (they come through a distinct aggregate), so
    * static partition pruning can't fire — Catalyst plants a dynamic
    * pruning subquery that REUSES the dim's broadcast, and the fact scan
    * opens only the probed month directories at file-listing time
    * (PlanSpec pins `dynamicpruning` on the scan's PartitionFilters). The
    * storage-level complement of the q38 bucketed join: bucketing kills
    * the join shuffle, partitioning kills the scan. */
  def q70DppJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = dppLineitem(s, dir)
    val months = Tables(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996 &&
        quarter(col("o_orderdate")) === 1)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m")).distinct()
    fact.join(broadcast(months), col("l_shipmonth") === col("m"))
  }

  /** Revenue per ship month over the dynamically pruned fact scan. */
  private val q70Dpp: Q = (s, dir) =>
    q70DppJoin(s, dir)
      .groupBy(col("l_shipmonth"))
      .agg(count(lit(1)).as("n_items"),
        graft.functions.GraftFunctions.round2(sum(col("l_extendedprice")))
          .as("revenue"))
      .orderBy(col("l_shipmonth"))

  /** Multimodal decode + featurize over synthetic binary payloads. The stub
    * codec is pure byte arithmetic on `repeat(sha256(id), 4)`, so DuckDB can
    * replay it exactly — the oracle hash-verifies that the typed
    * `mapPartitions` decode stage round-trips every payload byte unchanged
    * (the check a real codec swap would inherit). Batch/schema contracts
    * stay spec-tested in MultimodalSpec. */
  private val q64Multimodal: Q = (s, dir) => {
    val media = Multimodal.syntheticMedia(
      Tables(s, dir, "documents"), "doc_id")
    Multimodal.decodeAndFeaturize(media)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("mean_intensity"), col("n_sampled_frames"))
      .orderBy(col("media_id"))
  }

  /** Events as memo records with an ISO date metadata key → A10 date-range
    * stats (all values parse → min/max as yyyy-MM-dd). */
  def eventMemoRecords(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").select(
      col("event_id").as("id"),
      col("event_type").as("body"),
      map(lit("day"), concat(lit("s"), date_format(col("ts"), "yyyy-MM-dd")),
        lit("etype"), concat(lit("s"), col("event_type"))).as("metadata"))

  private val q24StatsDates: Q = (s, dir) =>
    MemoOps.statsDates(eventMemoRecords(s, dir), "{etype: purchase}", "day")

  /** M2 overwrite merge: replace src3 documents' text, keep the rest. */
  private val q74Overwrite: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("body"))
    val replacements = docs.filter(col("id") % 11 === 0)
      .select(col("id"), concat(lit("UPDATED "), col("body")).as("body"))
    MemoOps.overwrite(docs, replacements)
      .select(col("id"), substring(col("body"), 1, 12).as("head"))
      .orderBy(col("id"))
  }

  /** S1/S2: YAML export → import roundtrip must reproduce the table.
    * Runs entirely through the distributed path-based interchange: export
    * renders sharded YAML on executors, import is a splittable Hadoop scan
    * of the shard directory — the corpus never exists as one driver String
    * (the scale story for a 100 TB interchange file). */
  private val q75YamlRoundtrip: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("body"),
        map(lit("lang"), concat(lit("s"), col("lang"))).as("metadata"))
    val out = SessionHandles.tmpArtifactPath("q75", dir)
    graft.memo.YamlIO.exportPath(docs, out)
    // unpersist the importer's internal cache: its dup-id check (which runs
    // eagerly inside importPath) was the only other consumer here, and a
    // pinned copy of the corpus must not accumulate across bench runs
    graft.memo.YamlIO.importPath(s, out).unpersist()
      .select(col("id"), col("body")).orderBy(col("id"))
  }

  /** JSONL roundtrip (the training-data interchange format): export the
    * documents as sharded JSONL on executors, read back via the splittable
    * text scan — typed metadata survives exactly ([[graft.memo.JsonlIO]]).
    * Fully distributed like q75's YAML twin. */
  private val q58JsonlRoundtrip: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
      .select(col("doc_id").as("id"), col("text").as("body"),
        map(lit("lang"), concat(lit("s"), col("lang")),
          lit("n_chars"), concat(lit("i"), col("n_chars"))).as("metadata"))
    val out = SessionHandles.tmpArtifactPath("q58", dir)
    graft.memo.JsonlIO.exportPath(docs, out)
    graft.memo.JsonlIO.importPath(s, out).unpersist()
      .select(col("id"), col("body"),
        element_at(col("metadata"), "lang").as("lang_enc"),
        element_at(col("metadata"), "n_chars").as("nchars_enc"))
      .orderBy(col("id"))
  }

  /** F7: ISO datetime parse — null on failure (to_timestamp contract). */
  private val q76IsoParse: Q = (s, dir) =>
    Tables(s, dir, "events")
      .select(col("event_id"),
        date_format(to_timestamp(date_format(col("ts"),
          "yyyy-MM-dd'T'HH:mm:ss")), "yyyy-MM-dd HH:mm:ss").as("parsed"),
        try_to_timestamp(col("props")).isNull.as("unparseable_is_null"))
      .orderBy(col("event_id"))

  /** A4: default analyze fields = id + first 3 metadata keys sorted. */
  private val q77DefaultFields: Q = (s, dir) => {
    val recs = MemoQueries.memoRecords(s, dir)
    val fields = MemoOps.defaultFields(recs, "{lang: en}")
    MemoOps.analyzeProject(recs, "{lang: en}", fields, limit = 20, offset = 0)
  }

  /** Composite quality score (documented deterministic formula). */
  private val q55QualityScore: Q = (s, dir) =>
    graft.ops.TextAnalysis.qualityScore(
        Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  val defs: Map[String, Q] = Map(
    "q36_ivf_ann" -> q36IvfAnn,
    "q37_ivf_batch" -> q37IvfBatch,
    "q103_filtered_batch" -> q103FilteredBatch,
    "q106_batch_fill" -> q106BatchFill,
    "q108_pq_batch_fill" -> q108PqBatchFill,
    "q86_semdedup" -> q86SemDedup,
    "q39_pq_adc" -> q39PqAdc,
    "q67_pq_refine" -> q67PqRefine,
    "q68_ivfpq" -> q68IvfPq,
    "q69_pq_batch" -> q69PqBatch,
    "q38_bucketed_join" -> q38Bucketed,
    "q70_dpp_join" -> q70Dpp,
    "q64_multimodal" -> q64Multimodal,
    "q24_stats_dates" -> q24StatsDates,
    "q74_overwrite" -> q74Overwrite,
    "q75_yaml_roundtrip" -> q75YamlRoundtrip,
    "q58_jsonl_roundtrip" -> q58JsonlRoundtrip,
    "q76_iso_parse" -> q76IsoParse,
    "q77_default_fields" -> q77DefaultFields,
    "q55_quality_score" -> q55QualityScore,
  )

  /** DuckDB list literal of the trained centroid matrix. Each float is
    * rendered as its EXACT widened double (Double.toString shortest-repr
    * round-trips), so DuckDB's arithmetic sees bit-identical operands to
    * the JVM kernels'. */
  private def centroidValues(cs: Array[Array[Float]]): String =
    cs.zipWithIndex.map { case (c, i) =>
      c.map(f => f.toDouble.toString).mkString(s"($i, [", ", ", "]::DOUBLE[])")
    }.mkString(",\n  ")

  /** Shared replay CTEs: corpus cell assignment (argmin squared L2 against
    * the exported centroids, first cell on ties — NearestCentroid's
    * contract) given a `ctr(cell_id, ctr)` VALUES table. `src` is the
    * relation assigned over — the `embeddings` table for q36/q37, the
    * twin-planted CTE for q86. */
  private def ivfAssignCtes(cs: Array[Array[Float]],
      src: String = "embeddings"): String =
    s"""ctr(cell_id, ctr) AS (VALUES
       |  ${centroidValues(cs)}),
       |ap AS (SELECT e.vec_id, c.cell_id, unnest(e.embedding) AS x,
       |         unnest(c.ctr) AS y
       |       FROM $src e CROSS JOIN ctr c),
       |ad AS (SELECT vec_id, cell_id,
       |         sum((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)) AS d
       |       FROM ap GROUP BY vec_id, cell_id),
       |asg AS (SELECT vec_id, cell_id FROM (
       |         SELECT vec_id, cell_id, row_number() OVER (
       |           PARTITION BY vec_id ORDER BY d, cell_id) AS rn FROM ad)
       |        WHERE rn = 1)""".stripMargin

  /** Full DuckDB replay of q36/q37: the centroid matrix is engine-trained
    * but everything after it — cell assignment AND probe ranking (both the
    * kernel's squared-L2 against the exported centroids, ties to the
    * smaller cell), exact cosine, floor-form round — is deterministic
    * double arithmetic both engines compute identically.
    * The matrix comes from the in-JVM shortcut when an IVF query has run
    * here, and otherwise from the newest persisted index's
    * `_ivf_centroids` artifact — the oracle map is a pure function of
    * on-disk state, not of JVM history (a cold JVM inspecting the map
    * still emits the replays as long as the index exists). Only with no
    * index anywhere are the IVF oracles omitted (rows-only fallback). */
  private def ivfOracles: Map[String, String] =
    lastIvfCentroids.orElse(centroidsFromDisk) match {
    case None => Map.empty
    case Some(cs) => Map(
      "q36_ivf_ann" ->
        s"""WITH ${ivfAssignCtes(cs)},
           |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
           |probe AS (SELECT cell_id FROM (
           |           SELECT cell_id, row_number() OVER (
           |             ORDER BY d, cell_id) AS rn
           |           FROM ad WHERE vec_id = 0)
           |          WHERE rn <= 4),
           |cand AS (SELECT a.vec_id, a.cell_id
           |         FROM asg a JOIN probe USING (cell_id)),
           |sp AS (SELECT e.vec_id, unnest(e.embedding) AS x,
           |         unnest(q.qe) AS qx
           |       FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN qv q),
           |sc AS (SELECT vec_id,
           |         floor(sum(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) /
           |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
           |            sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))))
           |           * 10000.0 + 0.5) / 10000.0 AS score
           |       FROM sp GROUP BY vec_id)
           |SELECT s.vec_id AS id, c.cell_id, s.score
           |FROM sc s JOIN cand c USING (vec_id)
           |ORDER BY score DESC, id LIMIT 20""".stripMargin,
      // q86: assignment replay over the twin-planted union, then the
      // within-cell pair join + exact-cosine verify (semanticPairs'
      // contract: pairs only ever meet inside a shared cell)
      "q86_semdedup" ->
        s"""WITH emb2 AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
           |  WHERE vec_id % 5 = 0),
           |${ivfAssignCtes(cs, "emb2")},
           |pr AS (SELECT l.vec_id AS a, r.vec_id AS b, l.cell_id
           |       FROM asg l JOIN asg r USING (cell_id)
           |       WHERE l.vec_id < r.vec_id),
           |sp AS (SELECT p.a, p.b, p.cell_id, unnest(ea.embedding) AS x,
           |         unnest(eb.embedding) AS y
           |       FROM pr p JOIN emb2 ea ON ea.vec_id = p.a
           |            JOIN emb2 eb ON eb.vec_id = p.b),
           |sc AS (SELECT a, b, cell_id,
           |         floor(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) /
           |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
           |            sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
           |           * 10000.0 + 0.5) / 10000.0 AS score
           |       FROM sp GROUP BY a, b, cell_id)
           |SELECT a, b, cell_id, score FROM sc
           |WHERE score >= 0.95 ORDER BY a, b""".stripMargin,
      "q37_ivf_batch" ->
        s"""WITH ${ivfAssignCtes(cs)},
           |queries AS (SELECT vec_id AS query_id, embedding AS qe
           |            FROM embeddings WHERE vec_id < 5),
           |probe AS (SELECT vec_id AS query_id, cell_id FROM (
           |           SELECT vec_id, cell_id, row_number() OVER (
           |             PARTITION BY vec_id ORDER BY d, cell_id) AS rn
           |           FROM ad WHERE vec_id < 5)
           |          WHERE rn <= 4),
           |cand AS (SELECT p.query_id, a.vec_id
           |         FROM asg a JOIN probe p USING (cell_id)),
           |sp AS (SELECT c.query_id, c.vec_id, unnest(e.embedding) AS x,
           |         unnest(q.qe) AS qx
           |       FROM cand c JOIN embeddings e USING (vec_id)
           |            JOIN queries q USING (query_id)),
           |sc AS (SELECT query_id, vec_id,
           |         floor(sum(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) /
           |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
           |            sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))))
           |           * 10000.0 + 0.5) / 10000.0 AS score
           |       FROM sp GROUP BY query_id, vec_id)
           |SELECT query_id, vec_id, score FROM (
           |  SELECT query_id, vec_id, score, row_number() OVER (
           |    PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
           |  FROM sc)
           |WHERE rn <= 3
           |ORDER BY query_id, score DESC, vec_id""".stripMargin,
      // q103: q37's replay with the candidate mask — only vectors whose
      // document is English survive into each query's probed-cell
      // candidates; the per-query top-k ranks survivors only
      "q103_filtered_batch" ->
        s"""WITH ${ivfAssignCtes(cs)},
           |queries AS (SELECT vec_id AS query_id, embedding AS qe
           |            FROM embeddings WHERE vec_id < 5),
           |probe AS (SELECT vec_id AS query_id, cell_id FROM (
           |           SELECT vec_id, cell_id, row_number() OVER (
           |             PARTITION BY vec_id ORDER BY d, cell_id) AS rn
           |           FROM ad WHERE vec_id < 5)
           |          WHERE rn <= 4),
           |cand AS (SELECT p.query_id, a.vec_id
           |         FROM asg a JOIN probe p USING (cell_id)
           |         JOIN documents dd ON dd.doc_id = a.vec_id
           |         WHERE dd.lang = 'en'),
           |sp AS (SELECT c.query_id, c.vec_id, unnest(e.embedding) AS x,
           |         unnest(q.qe) AS qx
           |       FROM cand c JOIN embeddings e USING (vec_id)
           |            JOIN queries q USING (query_id)),
           |sc AS (SELECT query_id, vec_id,
           |         floor(sum(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) /
           |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
           |            sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))))
           |           * 10000.0 + 0.5) / 10000.0 AS score
           |       FROM sp GROUP BY query_id, vec_id)
           |SELECT query_id, vec_id, score FROM (
           |  SELECT query_id, vec_id, score, row_number() OVER (
           |    PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
           |  FROM sc)
           |WHERE rn <= 3
           |ORDER BY query_id, score DESC, vec_id""".stripMargin)
  }

  /** DuckDB VALUES literal of the PQ codebooks as FULL-DIM rows: each
    * (sub_id, code) row carries a dim-length DOUBLE array that is the
    * centroid inside its subspace and NULL outside. The NULL padding lets
    * the replay use the same zip-unnest idiom as [[ivfAssignCtes]] with no
    * position bookkeeping: `(x - y)` is NULL outside the subspace and
    * `sum` skips NULLs, so per-(vec, sub, code) sums see exactly the
    * subspace dims. Floats are rendered as exact widened doubles
    * ([[centroidValues]]'s contract). */
  private def pqCodebookValues(cbs: Array[Array[Array[Float]]]): String = {
    val sub = cbs(0)(0).length
    val dim = cbs.length * sub
    cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (ctr, c) =>
        val padded = Array.fill[String](dim)("NULL")
        var i = 0
        while (i < sub) { padded(j * sub + i) = ctr(i).toDouble.toString; i += 1 }
        s"($j, $c, [${padded.mkString(", ")}]::DOUBLE[])"
      }
    }.mkString(",\n  ")
  }

  /** Corpus-encode replay CTEs given a `cb(sub_id, code, ctr)` VALUES
    * table: per-subspace encode (argmin squared-L2, ties → smaller code —
    * pqEncode's contract) of every corpus vector. */
  private def pqEncodeCtes(cbs: Array[Array[Array[Float]]]): String =
    s"""cb(sub_id, code, ctr) AS (VALUES
       |  ${pqCodebookValues(cbs)}),
       |pd AS (SELECT e.vec_id, c.sub_id, c.code, unnest(e.embedding) AS x,
       |         unnest(c.ctr) AS y
       |       FROM embeddings e CROSS JOIN cb c),
       |dist AS (SELECT vec_id, sub_id, code,
       |           sum((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)) AS d
       |         FROM pd WHERE y IS NOT NULL GROUP BY vec_id, sub_id, code),
       |enc AS (SELECT vec_id, sub_id, code FROM (
       |          SELECT vec_id, sub_id, code, row_number() OVER (
       |            PARTITION BY vec_id, sub_id ORDER BY d, code) AS rn
       |          FROM dist)
       |        WHERE rn = 1)""".stripMargin

  /** [[pqEncodeCtes]] + the single-query (vec_id 0) ADC lookup table and
    * the floor-form rounded ADC score per vector. */
  private def pqAdcCtes(cbs: Array[Array[Array[Float]]]): String =
    s"""${pqEncodeCtes(cbs)},
       |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qp AS (SELECT c.sub_id, c.code, unnest(q.qe) AS qx, unnest(c.ctr) AS y
       |       FROM cb c CROSS JOIN qv q),
       |ql AS (SELECT sub_id, code, sum(CAST(qx AS DOUBLE) * y) AS lut
       |       FROM qp WHERE y IS NOT NULL GROUP BY sub_id, code),
       |adc AS (SELECT e.vec_id,
       |          floor(sum(l.lut) * 10000.0 + 0.5) / 10000.0 AS adc_score
       |        FROM enc e JOIN ql l USING (sub_id, code)
       |        GROUP BY e.vec_id)""".stripMargin

  /** Full DuckDB replays of q39/q67 ([[ivfOracles]]'s contract: the
    * codebooks are engine-trained, everything downstream is deterministic
    * double arithmetic). Matrix from the in-JVM shortcut, else from the
    * newest persisted codes artifact's `_pq_codebooks` stamp. */
  private def pqOracles: Map[String, String] =
    lastPqCodebooks.orElse(pqCodebooksFromDisk) match {
      case None => Map.empty
      case Some(cbs) => Map(
        "q39_pq_adc" ->
          s"""WITH ${pqAdcCtes(cbs)}
             |SELECT vec_id AS id, adc_score FROM adc
             |ORDER BY adc_score DESC, id LIMIT 20""".stripMargin,
        "q67_pq_refine" ->
          s"""WITH ${pqAdcCtes(cbs)},
             |cand AS (SELECT vec_id FROM adc
             |         ORDER BY adc_score DESC, vec_id LIMIT 40),
             |sp AS (SELECT e.vec_id, unnest(e.embedding) AS x,
             |         unnest(q.qe) AS qx
             |       FROM embeddings e JOIN cand USING (vec_id)
             |            CROSS JOIN qv q),
             |sc AS (SELECT vec_id,
             |         floor(sum(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) /
             |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
             |            sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))))
             |           * 10000.0 + 0.5) / 10000.0 AS score
             |       FROM sp GROUP BY vec_id)
             |SELECT vec_id, score FROM sc
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
    }

  /** Full DuckDB replay of q68: coarse assignment + probe (the IVF CTEs)
    * composed with encode + LUT + ADC (the PQ CTEs), candidate cut, exact
    * cosine re-rank — every stage downstream of the two engine-trained
    * matrices is deterministic double arithmetic. */
  private def ivfPqOracles: Map[String, String] =
    lastIvfPqMeta.orElse(ivfPqMetaFromDisk) match {
      case None => Map.empty
      case Some((cs, cbs)) => Map(
        "q68_ivfpq" ->
          s"""WITH ${ivfAssignCtes(cs)},
             |${pqAdcCtes(cbs)},
             |probe AS (SELECT cell_id FROM (
             |           SELECT cell_id, row_number() OVER (
             |             ORDER BY d, cell_id) AS rn
             |           FROM ad WHERE vec_id = 0)
             |          WHERE rn <= 4),
             |cand0 AS (SELECT a.vec_id FROM asg a JOIN probe USING (cell_id)),
             |adcc AS (SELECT adc.vec_id FROM adc JOIN cand0 USING (vec_id)
             |         ORDER BY adc_score DESC, adc.vec_id LIMIT 40),
             |sp AS (SELECT e.vec_id, unnest(e.embedding) AS x,
             |         unnest(q.qe) AS qx
             |       FROM embeddings e JOIN adcc USING (vec_id)
             |            CROSS JOIN qv q),
             |sc AS (SELECT vec_id,
             |         floor(sum(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) /
             |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
             |            sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))))
             |           * 10000.0 + 0.5) / 10000.0 AS score
             |       FROM sp GROUP BY vec_id)
             |SELECT vec_id, score FROM sc
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
        "q69_pq_batch" ->
          s"""WITH ${ivfAssignCtes(cs)},
             |${pqEncodeCtes(cbs)},
             |qs AS (SELECT vec_id AS query_id, embedding AS qe
             |       FROM embeddings WHERE vec_id < 5),
             |qp AS (SELECT s.query_id, c.sub_id, c.code, unnest(s.qe) AS qx,
             |         unnest(c.ctr) AS y
             |       FROM cb c CROSS JOIN qs s),
             |ql AS (SELECT query_id, sub_id, code,
             |         sum(CAST(qx AS DOUBLE) * y) AS lut
             |       FROM qp WHERE y IS NOT NULL
             |       GROUP BY query_id, sub_id, code),
             |probe AS (SELECT vec_id AS query_id, cell_id FROM (
             |           SELECT vec_id, cell_id, row_number() OVER (
             |             PARTITION BY vec_id ORDER BY d, cell_id) AS rn
             |           FROM ad WHERE vec_id < 5)
             |          WHERE rn <= 4),
             |cand AS (SELECT p.query_id, a.vec_id
             |         FROM asg a JOIN probe p USING (cell_id)),
             |sc AS (SELECT c.query_id, c.vec_id,
             |         floor(sum(l.lut) * 10000.0 + 0.5) / 10000.0 AS adc_score
             |       FROM cand c JOIN enc e ON e.vec_id = c.vec_id
             |            JOIN ql l ON l.query_id = c.query_id
             |              AND l.sub_id = e.sub_id AND l.code = e.code
             |       GROUP BY c.query_id, c.vec_id)
             |SELECT query_id, vec_id, adc_score FROM (
             |  SELECT query_id, vec_id, adc_score, row_number() OVER (
             |    PARTITION BY query_id ORDER BY adc_score DESC, vec_id) AS rn
             |  FROM sc)
             |WHERE rn <= 3
             |ORDER BY query_id, adc_score DESC, vec_id""".stripMargin)
    }

  /** Stamp-file lines of the most recently written artifact whose tmpdir
    * directory name starts with `prefix` — the shared scan behind the
    * disk-backed oracle fallbacks. The artifact paths are tmpdir-local by
    * construction ([[ivfIndexPath]] and twins), so plain file IO suffices;
    * when several sf dirs have artifacts, the newest stamp wins — it
    * belongs to the queries most recently run against this tmpdir. */
  private def newestMetaFromDisk[T](prefix: String, metaName: String)(
      parse: Vector[String] => Option[T]): Option[T] = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val metas = try {
      val s = java.nio.file.Files.list(tmp)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(prefix))
          .map(_.resolve(metaName))
          .filter(java.nio.file.Files.isRegularFile(_))
          .toVector
      } finally s.close()
    } catch { case _: java.io.IOException => Vector.empty }
    metas.sortBy(java.nio.file.Files.getLastModifiedTime(_).toMillis)
      .lastOption.flatMap { p =>
        import scala.jdk.CollectionConverters._
        parse(java.nio.file.Files.readAllLines(p).asScala.toVector)
      }
  }

  /** Matrices of the most recently written persisted q68 index —
    * [[centroidsFromDisk]]'s IVF-PQ twin. */
  private def ivfPqMetaFromDisk: Option[(Array[Array[Float]], Array[Array[Array[Float]]])] =
    newestMetaFromDisk("graft_q68_ivfpq_", IvfIndex.MetaName)(
      IvfIndex.parseMetaLines(_).flatMap(m =>
        m.codebooks.map((m.centroids, _))))

  /** Codebooks of the most recently written persisted q39 codes artifact —
    * [[centroidsFromDisk]]'s PQ twin. */
  private def pqCodebooksFromDisk: Option[Array[Array[Array[Float]]]] =
    newestMetaFromDisk("graft_q39_pq_", "_pq_codebooks")(
      PqIndex.parseMetaLines(_).map(_.codebooks))

  /** Centroid matrix of the most recently written persisted q36 index, off
    * its `_ivf_centroids` stamp file. */
  private def centroidsFromDisk: Option[Array[Array[Float]]] =
    newestMetaFromDisk("graft_q36_ivf_", IvfIndex.MetaName)(
      IvfIndex.parseMetaLines(_).map(_.centroids).filter(_.nonEmpty))

  /** Static oracles + the dynamically exported IVF, PQ, and IVF-PQ
    * replays. */
  def oracles: Map[String, String] =
    staticOracles ++ ivfOracles ++ pqOracles ++ ivfPqOracles

  private val staticOracles: Map[String, String] = Map(
    // q106: eight survivors < k means the ladder provably ends at the
    // full probe, where the batch fill result is the exact filtered
    // ranking — so the replay needs NO centroid export: per query, every
    // masked vector scored by exact cosine with the floor-form round
    "q106_batch_fill" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        |sp AS (SELECT q.query_id, c.vec_id, unnest(c.embedding) AS x,
        |         unnest(q.qe) AS qx
        |       FROM c CROSS JOIN q),
        |sc AS (SELECT query_id, vec_id,
        |         floor(sum(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) /
        |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
        |            sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))))
        |           * 10000.0 + 0.5) / 10000.0 AS score
        |       FROM sp GROUP BY query_id, vec_id)
        |SELECT query_id, vec_id, score FROM sc
        |ORDER BY query_id, score DESC, vec_id""".stripMargin,
    // q108: the same provable-full-probe argument as q106 on the
    // COMPRESSED path — with every survivor past the ADC cut, the
    // refine re-rank is the exact filtered ranking, so the replay is
    // the identical static cosine (quantization provably can't bite)
    "q108_pq_batch_fill" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        |sp AS (SELECT q.query_id, c.vec_id, unnest(c.embedding) AS x,
        |         unnest(q.qe) AS qx
        |       FROM c CROSS JOIN q),
        |sc AS (SELECT query_id, vec_id,
        |         floor(sum(CAST(x AS DOUBLE) * CAST(qx AS DOUBLE)) /
        |           (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) *
        |            sqrt(sum(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE))))
        |           * 10000.0 + 0.5) / 10000.0 AS score
        |       FROM sp GROUP BY query_id, vec_id)
        |SELECT query_id, vec_id, score FROM sc
        |ORDER BY query_id, score DESC, vec_id""".stripMargin,
    // the bucketed copies hold exactly the source tables' rows, so the
    // oracle replays the join from the original parquet
    "q38_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the partitioned copy holds exactly lineitem's rows, so the oracle
    // replays the month join from the original parquet
    "q70_dpp_join" ->
      """WITH m AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m
        |           FROM orders
        |           WHERE year(o_orderdate) = 1996
        |             AND quarter(o_orderdate) = 1)
        |SELECT strftime(l_shipdate, '%Y-%m') AS l_shipmonth,
        | count(*) AS n_items,
        | floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0 AS revenue
        |FROM lineitem JOIN m ON strftime(l_shipdate, '%Y-%m') = m.m
        |GROUP BY l_shipmonth ORDER BY l_shipmonth""".stripMargin,
    // replay the deterministic stub codec: payload = utf8(repeat(sha256,4)),
    // width/height from first/last byte, mean over all byte values (exact
    // binary fractions: n=256 ⇒ both engines' floor-form rounding agrees),
    // 256-byte payload / 64-byte frames / every 4th ⇒ always 1 frame
    "q64_multimodal" ->
      """WITH p AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    repeat(sha256(CAST(doc_id AS VARCHAR)), 4) AS s
        |  FROM documents),
        |st AS (
        |  SELECT media_id, sum(ascii(substr(s, CAST(i AS INT), 1))) AS tot,
        |    count(*) AS n
        |  FROM (SELECT media_id, s, unnest(range(1, length(s) + 1)) AS i
        |        FROM p)
        |  GROUP BY media_id)
        |SELECT p.media_id, p.kind,
        |  16 + ascii(substr(p.s, 1, 1)) % 16 AS width,
        |  16 + ascii(substr(p.s, length(p.s), 1)) % 16 AS height,
        |  floor(CAST(st.tot AS DOUBLE) / st.n * 10000.0 + 0.5) / 10000.0
        |    AS mean_intensity,
        |  1 AS n_sampled_frames
        |FROM p JOIN st USING (media_id) ORDER BY media_id""".stripMargin,
    "q24_stats_dates" ->
      """SELECT strftime(min(ts), '%Y-%m-%d') AS dmin,
        | strftime(max(ts), '%Y-%m-%d') AS dmax
        |FROM events WHERE event_type = 'purchase'""".stripMargin,
    "q74_overwrite" ->
      """SELECT doc_id AS id,
        | substring(CASE WHEN doc_id % 11 = 0
        |   THEN 'UPDATED ' || text ELSE text END, 1, 12) AS head
        |FROM documents ORDER BY id""".stripMargin,
    "q75_yaml_roundtrip" ->
      "SELECT doc_id AS id, text AS body FROM documents ORDER BY id",
    // typed encodings are deterministic: 's'+lang, 'i'+n_chars
    "q58_jsonl_roundtrip" ->
      """SELECT doc_id AS id, text AS body,
        | 's' || lang AS lang_enc,
        | 'i' || CAST(n_chars AS VARCHAR) AS nchars_enc
        |FROM documents ORDER BY id""".stripMargin,
    "q76_iso_parse" ->
      """SELECT event_id,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS parsed,
        | TRUE AS unparseable_is_null
        |FROM events ORDER BY event_id""".stripMargin,
    "q77_default_fields" ->
      """SELECT doc_id AS id, lang, CAST(n_chars AS VARCHAR) AS n_chars,
        | source
        |FROM documents WHERE lang = 'en' ORDER BY id LIMIT 20""".stripMargin,
    "q55_quality_score" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
        |      x -> x <> '') AS ts
        |  FROM documents)
        |SELECT doc_id, floor((
        |  least(CAST(len(ts) AS DOUBLE) / 100.0, 1.0) * 0.4 +
        |  CAST(len(list_distinct(ts)) AS DOUBLE) /
        |    greatest(len(ts), 1) * 0.3 +
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
        |      AS DOUBLE) / greatest(length(text), 1) * 0.3) * 10000.0)
        |  / 10000.0 AS quality
        |FROM toks ORDER BY doc_id""".stripMargin,
  )
}
