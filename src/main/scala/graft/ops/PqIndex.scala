package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Product quantization (PQ): compress an embedding column into m one-byte
  * subspace codes and serve top-k by ADC (asymmetric distance computation)
  * lookup-table scans over the CODES, never the raw vectors.
  *
  * Why this is the 100 TB vector-serving shape (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — the same
  * quantizer family the reference's FAISS backend ships as IndexPQ /
  * IndexIVFPQ; the reference itself holds every raw vector in RAM,
  * memo_cli.py:245): a 384-dim float32 embedding is 1536 bytes; m=48 codes
  * are 48 bytes — a 32× smaller scan. At 100 TB of raw vectors the ADC pass
  * reads ~3 TB instead, and each row costs m lookup-adds instead of a
  * 384-dim dot product. Exactness is recovered where it matters by an
  * exact re-rank of the small ADC candidate set against the raw vectors
  * ([[searchAdcRefine]]).
  *
  * Training mirrors [[IvfIndex.trainCentroids]]: a coarse quantizer never
  * needs the full corpus — a bounded, hash-ordered (layout-independent)
  * driver sample and per-subspace Lloyd iterations, so the only
  * distributed passes are encode (codegen [[graft.functions.PqEncode]])
  * and the ADC scans.
  */
object PqIndex {

  /** Train per-subspace codebooks: `[subspace][code][subdim]`.
    *
    * Deterministic by construction (hash-ordered sample, init = first ksub
    * sample subvectors, squared-L2 argmin with ties → smaller code, fixed
    * iteration count) — the property that lets an external oracle replay
    * everything DOWNSTREAM of the returned matrix exactly.
    *
    * @param m    number of subspaces (must divide the embedding dim)
    * @param ksub codes per subspace (<= 256: codes are bytes at rest)
    */
  def trainCodebooks(corpus: DataFrame, embCol: String, m: Int, ksub: Int,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      maxSample: Int = 20000, maxIter: Int = 8): Array[Array[Array[Float]]] =
    codebooksOf(IvfIndex.trainingSample(corpus, embCol, sampleFraction, seed,
      maxSample), m, ksub, maxIter)

  /** Per-subspace Lloyd's iterations of [[trainCodebooks]] over a
    * collected sample ([[IvfIndex.trainingSample]]). */
  private[ops] def codebooksOf(sampled: Array[Array[Float]], m: Int,
      ksub: Int, maxIter: Int): Array[Array[Array[Float]]] = {
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    require(sampled.length >= ksub, s"sample ${sampled.length} < ksub $ksub")
    val dim = sampled(0).length
    require(m >= 1 && dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val off = j * sub
      val subVecs = sampled.map(v => java.util.Arrays.copyOfRange(v, off, off + sub))
      kmeans(subVecs, ksub, maxIter)
    }
  }

  /** Lloyd's k-means over driver-side sample vectors — the same init/tie
    * contract as [[IvfIndex.trainCentroids]] (init = first k, argmin with
    * first-wins ties, empty clusters keep their previous centroid). */
  private def kmeans(sampled: Array[Array[Float]], k: Int,
      maxIter: Int): Array[Array[Float]] = {
    val dim = sampled(0).length
    val centroids = Array.tabulate(k)(i => sampled(i).clone())
    val assign = new Array[Int](sampled.length)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      var changed = false
      var r = 0
      while (r < sampled.length) {
        val v = sampled(r)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          val ctr = centroids(c)
          while (i < dim) { val t = v(i) - ctr(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(r) != best) { assign(r) = best; changed = true }
        r += 1
      }
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      r = 0
      while (r < sampled.length) {
        val c = assign(r); counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += sampled(r)(i); i += 1 }
        r += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) {
            centroids(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1
          }
        }
        c += 1
      }
      converged = !changed
      iter += 1
    }
    centroids
  }

  /** The query's ADC lookup table: `lut(j)(c)` = inner product of the
    * query's j-th subvector with codebook centroid c of subspace j,
    * accumulated in double with dims ascending — the fixed evaluation
    * order an external replay reproduces. A few KB; rides into codegen as
    * a plan constant via [[graft.functions.PqAdcScore]]. */
  def adcLut(codebooks: Array[Array[Array[Float]]],
      query: Array[Float]): Array[Array[Double]] = {
    var off = 0
    codebooks.map { cb =>
      val sub = cb(0).length
      val row = cb.map { ctr =>
        var s = 0.0
        var i = 0
        val n = math.min(sub, math.max(0, query.length - off))
        while (i < n) { s += query(off + i).toDouble * ctr(i); i += 1 }
        s
      }
      off += sub
      row
    }
  }

  /** Encode a corpus into its codes table: (id, code BINARY of m bytes). */
  def encode(corpus: DataFrame, idCol: String, embCol: String,
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    corpus.select(col(idCol).as("id"),
      pqEncode(col(embCol), codebooks).as("code"))

  /** ADC top-k over a codes table: m lookup-adds per row, narrow scan,
    * one bounded sort. Emits (id, adc_score), floor-form rounded for
    * cross-engine comparison. */
  def searchAdc(codes: DataFrame, codebooks: Array[Array[Array[Float]]],
      query: Array[Float], k: Int): DataFrame =
    codes.withColumn("adc_score", round4(pqAdcScore(col("code"), adcLut(codebooks, query))))
      .orderBy(desc("adc_score"), col("id"))
      .limit(k)
      .select(col("id"), col("adc_score"))

  /** ADC candidates + exact re-rank: take `k * refine` rows by ADC score
    * off the codes table, then score ONLY those against the raw vectors
    * (broadcast semi-join back into the corpus) with exact cosine. The
    * standard PQ serving recipe: the 32×-cheaper scan finds the
    * neighborhood, the exact pass fixes the order (quantization error never
    * reaches the final ranking — only recall of the candidate set is
    * approximate, and `refine` buys it back cheaply). */
  def searchAdcRefine(corpus: DataFrame, idCol: String, embCol: String,
      codes: DataFrame, codebooks: Array[Array[Array[Float]]],
      query: Array[Float], k: Int, refine: Int = 4): DataFrame = {
    val cand = searchAdc(codes, codebooks, query, k * refine).select("id")
    // drop the candidate side's id right after the join: with idCol ==
    // "id" the two would otherwise collide and every later col(idCol)
    // reference is ambiguous
    corpus.join(broadcast(cand), corpus(idCol) === cand("id"))
      .drop(cand("id"))
      .withColumn("score", round4(vecCosine(col(embCol), lit(query))))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  // ---- persisted codes artifact ------------------------------------------

  private val MetaName = "_pq_codebooks"

  /** Parsed `_pq_codebooks` content: validity stamp + codebook matrix
    * (j-major, code-minor rows; reshaped via the stamp's m and ksub). */
  private[graft] case class Meta(stamp: String,
      codebooks: Array[Array[Array[Float]]])

  private[graft] def parseMetaLines(lines: Seq[String]): Option[Meta] =
    lines.headOption.flatMap { stamp =>
      stamp.split(":") match {
        case Array(_, mStr, kStr, _*) =>
          val (m, ksub) = (mStr.toInt, kStr.toInt)
          val rows = lines.tail.map(_.split(",").map(_.toFloat)).toArray
          if (rows.length != m * ksub) None
          else Some(Meta(stamp, Array.tabulate(m)(j =>
            Array.tabulate(ksub)(c => rows(j * ksub + c)))))
        case _ => None
      }
    }

  /** `<path>/_pq_codebooks`, read through the path's Hadoop filesystem. */
  private def readMeta(conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[Meta] = {
    val p = new org.apache.hadoop.fs.Path(path, MetaName)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try parseMetaLines(
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector)
      finally in.close()
    }
  }

  /** Atomic (temp + rename): a lock-free reader sees the complete old
    * or complete new stamp, never a torn file. */
  private def writeMeta(df: DataFrame, path: String, meta: Meta): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, MetaName)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    ArtifactMeta.writeAtomicFs(fs, p, (meta.stamp +: meta.codebooks.toSeq
      .flatMap(_.toSeq).map(_.mkString(","))).mkString("", "\n", "\n"))
  }

  /** Stamp = row count + PQ config + content fingerprint over (id,
    * embedding) — regenerating the EMBEDDINGS in place (new model, same
    * ids, same count) must invalidate the codes artifact, so the vectors
    * themselves are in the fingerprint, not just the keys. */
  private def stampOf(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, ksub: Int, sampleFraction: Double): String = {
    val (n, fp) = ArtifactMeta.fingerprint(corpus, Seq(idCol, embCol))
    s"$n:$m:$ksub:$sampleFraction:fp$fp"
  }

  /** Ensure a valid persisted codes table exists at `path` for this corpus
    * and return its codebooks — the build-once / probe-many lifecycle
    * ([[IvfIndex.buildIfAbsent]]'s contract: stamp = row count + config +
    * content fingerprint; any mismatch retrains and re-encodes). The
    * artifact is (id, code) parquet — m bytes per row, the thing ADC scans
    * instead of the corpus. */
  def buildIfAbsent(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, ksub: Int, path: String,
      sampleFraction: Double = 1.0): Array[Array[Array[Float]]] = {
    val stamp = stampOf(corpus, idCol, embCol, m, ksub, sampleFraction)
    // a journal contradicting the live stamp marks a torn append — the
    // stamp no longer describes the data; force the rebuild arm
    def ok(meta: Meta) = meta.stamp == stamp &&
      !ArtifactMeta.journalTorn(corpus.sparkSession, path, Journal, meta.stamp)
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    readMeta(conf, path) match {
      case Some(meta) if ok(meta) => meta.codebooks // lock-free
      case _ => ArtifactMeta.withBuildLock(corpus, path) {
        // double-checked: reuse a racing builder's finished artifact
        readMeta(conf, path) match {
          case Some(meta) if ok(meta) => meta.codebooks
          case _ =>
            val cbs = trainCodebooks(corpus, embCol, m, ksub, sampleFraction)
            encode(corpus, idCol, embCol, cbs)
              .write.mode("overwrite").parquet(path)
            writeMeta(corpus, path, Meta(stamp, cbs))
            cbs
        }
      }
    }
  }

  /** Append-intent journal (underscore name: invisible to parquet reads
    * of `path`). Flat codes have no append path; [[buildIfAbsent]] still
    * reads `_pq_journal` so an artifact an older append left torn is
    * treated as stale and rebuilt. */
  private val Journal = "_pq_journal"

  /** Read a persisted flat codes table back: (id, code). */
  def loadCodes(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Codebooks of a persisted codes table, straight off its stamp file —
    * for oracle exporters that must be a pure function of on-disk state. */
  def codebooksAt(spark: SparkSession, path: String): Option[Array[Array[Array[Float]]]] =
    readMeta(spark.sparkContext.hadoopConfiguration, path).map(_.codebooks)

  // ---- IVF-PQ: codes in the IVF cells ----------------------------------
  //
  // The IVF-PQ kernels take a loaded [[IvfIndex]] artifact built with
  // codes ([[IvfIndex.buildIfAbsent]]'s `pq`): (id, embedding, code,
  // cell_id). The ADC stage projects `code`, the exact refine stage
  // `embedding`, so Parquet column pruning keeps the candidate scan to
  // the m-byte codes while both stages read one artifact version.


  /** IVF-PQ search: partition-pruned cells → ADC top k×refine over the
    * m-byte codes → exact cosine re-rank of just those candidates against
    * their raw vectors in the same probed cells. Emits (id, score).
    * Probe-cell choice is [[IvfIndex.probeCells]]'s
    * (squared-L2, ties → smaller cell — the replayable contract).
    *
    * `allowed` is a candidate MASK (one `id` column, the
    * [[IvfIndex.search]] convention): it semi-joins the probed cells'
    * CODES before the ADC cut, so the k×refine candidates are all filter
    * survivors — a post-refine filter would instead silently under-fill
    * whenever fewer than k of the unfiltered candidates survive. Because
    * the cut keeps k×refine ≥ k candidates, a masked search under-fills
    * ONLY when the probed cells genuinely hold fewer than k survivors
    * (callers widen nprobe, never refine, to fill). */
  def searchIvfPq(index: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], query: Array[Float],
      k: Int, nprobe: Int, refine: Int = 4,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None): DataFrame = {
    val cells = IvfIndex.probeCells(centroids, query, nprobe)
    val probed = index.filter(col("cell_id").isin(cells: _*))
    val masked = allowed.fold(probed)(m =>
      probed.join(m.select(col("id")), Seq("id"), "left_semi"))
    val cand = masked
      .withColumn("adc_score",
        round4(pqAdcScore(col("code"), adcLut(codebooks, query))))
      .orderBy(desc("adc_score"), col("id"))
      .limit(k * refine)
      .select("id")
    // every candidate sits in a probed cell, so the refine reads only
    // those cells' vectors. rawFloor cuts on the refine stage's RAW
    // cosine (the only exact score this family computes) BEFORE rounding
    // and the final top-k — the serving front doors' brute-arm parity;
    // the approximate ADC candidate stage is never floored.
    val refined = probed.select("id", "embedding")
      .join(broadcast(cand), Seq("id"))
      .withColumn("_raw", vecCosine(col("embedding"), lit(query)))
    rawFloor.fold(refined)(f => refined.filter(col("_raw") >= f))
      .withColumn("score", round4(col("_raw")))
      .orderBy(desc("score"), col("id"))
      .limit(k)
      .select(col("id"), col("score"))
  }

  /** Batch ADC serving over a cell-partitioned codes table (the
    * (id, code, cell_id) columns of an IVF artifact with codes) — q37's
    * [[IvfIndex.searchBatch]] shape on compressed storage: per-query probe
    * cells as one narrow projection (the codegen `nearestCells` plan
    * constant), the probe set broadcast into ONE scan of the codes, each
    * (row, probing query) pair scored by the codegen code-vs-query ADC
    * kernel ([[graft.functions.PqAdcDot]] — bit-identical arithmetic to
    * the flat LUT path, so batch and flat serving agree at floor-form
    * rounding boundaries), bounded-heap top-k per query before the only
    * shuffle. Per-query LUTs can't be plan constants for a query BATCH, so
    * the kernel walks codebook centroids directly: same I/O (m bytes/row),
    * the arithmetic costs what the raw-vector dot would — the scan savings
    * are the point. Queries: (queryIdCol castable to long, qvCol
    * array<float>).
    * Returns (query_id, id, adc_score), unordered top-k set per query.
    * Above `maxBatch` queries the batch auto range-splits exactly as
    * [[IvfIndex.searchBatch]] does (hash slices, per-slice probe joins,
    * union — per-query results are independent, so the union is the
    * unsplit answer with each broadcast bounded). */
  def searchBatchAdc(codes: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      queryIdCol: String, qvCol: String, k: Int, nprobe: Int,
      maxBatch: Int = 8192,
      allowed: Option[DataFrame] = None): DataFrame = {
    // candidate mask ([[IvfIndex.searchBatch]]'s convention): one
    // semi-join restricts the scanned CODES for every query — the
    // per-query top-k is computed among filter survivors only
    val cds = allowed.fold(codes)(m =>
      codes.join(m.select(col("id")), Seq("id"), "left_semi"))
    val q = queries.select(col(queryIdCol).cast("long").as("query_id"),
      col(qvCol).as("qv"))
    // size guard on the id column only (no scan of the wide vectors)
    val ids = q.select("query_id")
    if (ids.limit(maxBatch + 1).count() <= maxBatch)
      searchBatchAdcSlice(cds, centroids, codebooks, q, k, nprobe)
    else {
      val slices = ((ids.count() - 1) / maxBatch + 1).toInt
      (0 until slices).map { i =>
        searchBatchAdcSlice(cds, centroids, codebooks,
          q.filter(pmod(xxhash64(col("query_id")), lit(slices)) === i),
          k, nprobe)
      }.reduce(_.unionAll(_))
    }
  }

  /** The batch twin of [[searchIvfPq]] — the FULL compressed serving
    * recipe per query in one pass: [[searchBatchAdc]]'s probe-pruned
    * codegen ADC keeps k×refine candidates per query (mask inside the
    * cut, so candidates are all survivors), then ONLY those ≤
    * Q×k×refine rows join back to the raw vectors and re-rank by exact
    * cosine against their own query (the per-(candidate, query) pairing
    * rides the query_id — no cross-query mixing), bounded-heap top-k
    * per query before the only shuffle. Same tie contract as the single
    * path (score desc, id asc). Returns (query_id, id, score),
    * unordered top-k set per query. */
  def searchBatchIvfPq(index: DataFrame, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      queryIdCol: String, qvCol: String, k: Int, nprobe: Int,
      refine: Int = 4, maxBatch: Int = 8192,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None): DataFrame = {
    val q = queries.select(col(queryIdCol).cast("long").as("query_id"),
      col(qvCol).as("qv"))
    val cand = searchBatchAdc(index, centroids, codebooks, q,
      "query_id", "qv", k * refine, nprobe, maxBatch, allowed)
    refineBatch(cand, index, q, k, rawFloor)
  }

  /** The exact-cosine re-rank stage of [[searchBatchIvfPq]], shared
    * with the fill ladder: join the ADC candidates back to their raw
    * vectors, score each against its own query, keep k per query. */
  private def refineBatch(cand: DataFrame, index: DataFrame, q: DataFrame,
      k: Int, rawFloor: Option[Double]): DataFrame = {
    val scored0 = cand.select(col("query_id"), col("id"))
      .join(index.select(col("id").cast("long").as("id"),
        col("embedding").as("_emb")), Seq("id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("_raw", vecCosine(col("_emb"), col("qv")))
    // floor on the refine stage's RAW cosine (see [[searchIvfPq]])
    graft.functions.TopKAgg.perQuery(
      rawFloor.fold(scored0)(f => scored0.filter(col("_raw") >= f))
        .withColumn("score", round4(col("_raw"))),
      "query_id", col("id").cast("long"), col("score"), k, outId = "id")
  }

  /** [[searchBatchIvfPq]] with the EXACT-FILL contract —
    * [[IvfIndex.searchBatchFill]]'s per-query-id widening ladder on the
    * compressed family: starved queries re-run at doubled nprobe, and
    * because the mask applies BEFORE the ADC cut, under-fill only ever
    * means the probed cells lack survivors — widening (never refine) is
    * the fill knob, exactly the single-path contract. At full probe
    * with ≤ k×refine survivors the ADC cut passes every survivor, so
    * the result is the exact filtered ranking. Returns (frame, (final
    * nprobe, rungs)). */
  def searchBatchFillIvfPq(index: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      queryIdCol: String, qvCol: String, k: Int, nprobe: Int,
      refine: Int = 4, maxBatch: Int = 8192,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None,
      track: DataFrame => Unit = _ => ()): (DataFrame, (Int, Int)) = {
    val cds = allowed.fold(index)(m =>
      index.join(m.select(col("id")), Seq("id"), "left_semi"))
    IvfIndex.fillLadder(queries, queryIdCol, qvCol, k, nprobe,
      centroids.length, maxBatch, track) { (qf, np, small) =>
      val cand =
        if (small) searchBatchAdcSlice(cds, centroids, codebooks, qf,
          k * refine, np)
        else searchBatchAdc(cds, centroids, codebooks, qf, "query_id",
          "qv", k * refine, np, maxBatch)
      refineBatch(cand, index, qf, k, rawFloor)
    }
  }

  /** One bounded slice of [[searchBatchAdc]] (queries already projected to
    * (query_id, qv)). */
  private def searchBatchAdcSlice(codes: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val probes = queries
      .select(col("query_id"), col("qv"),
        explode(nearestCells(col("qv"), centroids, nprobe)).as("cell_id"))
    graft.functions.TopKAgg.perQuery(
      codes.join(broadcast(probes), Seq("cell_id"))
        .withColumn("adc_score",
          round4(pqAdcDot(col("code"), col("qv"), codebooks))),
      "query_id", col("id").cast("long"), col("adc_score"), k,
      outId = "id", outScore = "adc_score")
  }

  /** Recall@k of PQ+refine against exact brute force for one query — the
    * quality-vs-cost diagnostic (bigger `refine` → recall → 1). */
  def recallAtK(corpus: DataFrame, idCol: String, embCol: String,
      codes: DataFrame, codebooks: Array[Array[Array[Float]]],
      query: Array[Float], k: Int, refine: Int): Double = {
    val exact = corpus
      .withColumn("score", round4(vecCosine(col(embCol), lit(query))))
      .orderBy(desc("score"), col(idCol))
      .limit(k).select(col(idCol)).collect().map(_.getLong(0)).toSet
    val approx = searchAdcRefine(corpus, idCol, embCol, codes, codebooks,
        query, k, refine)
      .select(col(idCol)).collect().map(_.getLong(0)).toSet
    if (exact.isEmpty) 1.0
    else exact.intersect(approx).size.toDouble / exact.size
  }
}
