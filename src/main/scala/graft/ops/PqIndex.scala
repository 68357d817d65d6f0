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
      maxSample: Int = 20000, maxIter: Int = 8): Array[Array[Array[Float]]] = {
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    val sampled = (if (sampleFraction < 1.0)
        corpus.sample(withReplacement = false, sampleFraction, seed)
      else corpus)
      .select(col(embCol).as("e"))
      .withColumn("h", xxhash64(col("e")))
      .orderBy("h").limit(maxSample)
      .collect().map(_.getSeq[Float](0).toArray)
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

  /** Lines of `<path>/<name>`, via the path's Hadoop filesystem (the one
    * open/read/close sequence every meta reader shares). */
  private def readMetaFileLines(conf: org.apache.hadoop.conf.Configuration,
      path: String, name: String): Option[Vector[String]] = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector)
      finally in.close()
    }
  }

  /** Atomic (temp + rename): the IVF-PQ stamp file carries the cell
    * manifest, so a lock-free reader racing a swap must see complete old
    * or complete new content, never a torn file. */
  private def writeMetaFileLines(conf: org.apache.hadoop.conf.Configuration,
      path: String, name: String, lines: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(conf)
    ArtifactMeta.writeAtomicFs(fs, p, lines.mkString("", "\n", "\n"))
  }

  private def hconf(df: DataFrame) =
    df.sparkSession.sparkContext.hadoopConfiguration

  private def readMeta(df: DataFrame, path: String): Option[Meta] =
    readMetaFileLines(hconf(df), path, MetaName).flatMap(parseMetaLines)

  private def writeMeta(df: DataFrame, path: String, meta: Meta): Unit =
    writeMetaFileLines(hconf(df), path, MetaName,
      meta.stamp +: meta.codebooks.toSeq.flatMap(_.toSeq).map(_.mkString(",")))

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
    readMeta(corpus, path) match {
      case Some(meta) if ok(meta) => meta.codebooks // lock-free
      case _ => ArtifactMeta.withBuildLock(corpus, path) {
        // double-checked: reuse a racing builder's finished artifact
        readMeta(corpus, path) match {
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

  /** Append-intent journals + pending-delete tombstones (underscore
    * names: invisible to parquet reads of `path`). Flat codes have no
    * append path; [[buildIfAbsent]] still reads `_pq_journal` so an
    * artifact an older append left torn is treated as stale and rebuilt. */
  private val Journal = "_pq_journal"
  private val IvfPqJournal = "_ivfpq_journal"
  private def tombDir(path: String) = s"$path/_tombstones"

  private def readTombstones(spark: SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombDir(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).select("id"))
    else None
  }

  /** Read a persisted codes table back (flat or IVF-PQ) — resolved
    * through the cell manifest for IVF-PQ layouts (flat artifacts have no
    * `_ivfpq_meta` and read ungated) under a STABLE manifest generation
    * ([[IvfIndex.stableRead]]'s contract: complete-old-or-complete-new
    * even against back-to-back apply/append pairs; the manifest read is
    * HEADER-ONLY, the codebook matrices are never touched) — excluding
    * any docs retracted by [[deleteIvfPq]]
    * ([[ArtifactMeta.excludeTombstones]]). */
  def loadCodes(spark: SparkSession, path: String): DataFrame =
    IvfIndex.stableRead(spark, path, IvfPqMetaName, m =>
      ArtifactMeta.excludeTombstones(
        IvfIndex.resolveCellData(spark, path, m), tombDir(path), "id"))

  /** Retract documents from a persisted IVF-PQ index WITHOUT a rebuild
    * — [[IvfIndex.delete]]'s contract on the composed artifact:
    * tombstone the ids (probes exclude them via [[loadCodes]]'
    * anti-join), retreat the stamp facts additively, journal the window.
    * A later [[buildIfAbsentIvfPq]] over corpus ∖ batch validates
    * without re-encoding; [[applyDeletesIvfPq]] (or the next full
    * rewrite) folds the tombstones away physically. Same id contract as
    * every delete path: the batch must be exactly rows previously
    * encoded. The stamp is `count:nlist:m:ksub:sampleFraction:fp<sum>`,
    * so the retreat rewrites fields 0 and last and preserves the config
    * middle verbatim. */
  def deleteIvfPq(batch: DataFrame, idCol: String, embCol: String,
      path: String): Unit = ArtifactMeta.withBuildLock(batch, path) {
    val spark = batch.sparkSession
    val lines = readMetaFileLines(hconf(batch), path, IvfPqMetaName)
      .getOrElse(throw new IllegalStateException(
        s"no PQ artifact at $path — build before delete"))
    val stamp = lines.head
    ArtifactMeta.journalGuard(spark, path, IvfPqJournal, stamp)
    val parts = stamp.split(":", 6)
    require(parts.length == 6 && parts.last.startsWith("fp"),
      s"PQ artifact at $path has a pre-lifecycle stamp — rebuild it")
    val (bn, bfp) = ArtifactMeta.fingerprint(batch, Seq(idCol, embCol))
    val n = parts(0).toLong - bn
    require(n >= 0, s"delete batch exceeds artifact contents at $path " +
      s"(${parts(0)} rows, $bn deleted) — id contract violated")
    val next = (n.toString +: parts.tail.init :+
      s"fp${BigInt(parts.last.drop(2)) - bfp}").mkString(":")
    ArtifactMeta.write(spark, path, IvfPqJournal, next)
    batch.select(col(idCol).as("id")).distinct()
      .write.mode("append").parquet(tombDir(path))
    // legacy (pre-manifest) artifacts get their cell manifest PINNED
    // here, one maintenance cycle before any physical apply
    // ([[IvfIndex.delete]]'s migration contract)
    val body =
      if (lines.exists(_.startsWith("base:"))) lines.tail
      else {
        val (occ, rest) = lines.tail.span(_.startsWith("occ:"))
        occ ++ IvfIndex.CellManifest.render(
          IvfIndex.freshManifest(spark, path)) ++ rest
      }
    writeMetaFileLines(hconf(batch), path, IvfPqMetaName, next +: body)
    ArtifactMeta.delete(spark, path, IvfPqJournal)
  }

  /** Apply pending IVF-PQ tombstones physically — [[IvfIndex.applyDeletes]]
    * on the composed artifact: rewrite only the affected `cell_id=`
    * partitions (the shared [[IvfIndex.swapAffectedCells]] swap), clear
    * the tombstone table, refresh the stored occupancy. Returns true iff
    * anything was applied. Inherits [[IvfIndex.applyDeletes]]'s
    * manifest-gated visibility contract verbatim: the cell manifest
    * rides in `_ivfpq_meta`, one atomic swap publishes it, and a probe
    * racing the apply sees complete-old, complete-new, or the documented
    * loud transient — never a silently smaller candidate set. */
  def applyDeletesIvfPq(spark: SparkSession, path: String): Boolean =
    ArtifactMeta.withBuildLock(spark, path) {
      val conf = spark.sparkContext.hadoopConfiguration
      val lines = readMetaFileLines(conf, path, IvfPqMetaName)
      val meta = lines.flatMap(parseIvfPqMetaLines).getOrElse(
        throw new IllegalStateException(
          s"no IVF-PQ index at $path — build before applyDeletes"))
      ArtifactMeta.journalGuard(spark, path, IvfPqJournal, meta.stamp)
      readTombstones(spark, path) match {
        case None => false
        case Some(tomb) =>
          // df-less meta write (applyDeletes has no corpus DataFrame):
          // same shared renderer as the df path — no second serializer
          // to drift from the parser
          def publishMeta(m: IvfPqMeta): Unit =
            writeMetaFileLines(conf, path, IvfPqMetaName, renderIvfPqMeta(m))
          // the published manifest comes back BY VALUE — a transient
          // meta re-read falling back to the pre-swap manifest would
          // republish just-deleted paths ([[IvfIndex.applyDeletes]])
          val published = IvfIndex.swapAffectedCells(spark, path, tomb,
              meta.manifest,
              publish = mf => publishMeta(meta.copy(manifest = mf)))
            .getOrElse(meta.manifest)
          val fs = new org.apache.hadoop.fs.Path(path)
            .getFileSystem(conf)
          fs.delete(new org.apache.hadoop.fs.Path(tombDir(path)), true)
          val nlist = meta.stamp.split(":", 6)(1).toInt
          publishMeta(meta.copy(manifest = published,
            occupancy = Some(IvfIndex.cellOccupancyOf(
              spark, path, published, nlist))))
          true
      }
    }

  /** Codebooks of a persisted codes table, straight off its stamp file —
    * for oracle exporters that must be a pure function of on-disk state. */
  def codebooksAt(spark: SparkSession, path: String): Option[Array[Array[Array[Float]]]] =
    readMetaFileLines(spark.sparkContext.hadoopConfiguration, path, MetaName)
      .flatMap(parseMetaLines).map(_.codebooks)

  // ---- IVF-PQ: cell-partitioned codes ------------------------------------

  /** Parsed `_ivfpq_meta` content: stamp + per-cell occupancy (absent on
    * pre-lifecycle artifacts) + coarse centroids + codebooks. Layout:
    * stamp line (carries nlist/m/ksub for reshaping), optional `occ:`
    * line, `nlist` centroid rows, then m×ksub codebook rows (j-major). */
  private[graft] case class IvfPqMeta(stamp: String,
      occupancy: Option[Array[Long]], centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]],
      manifest: IvfIndex.CellManifest = IvfIndex.CellManifest.Ungated)

  private[graft] def parseIvfPqMetaLines(lines: Seq[String]): Option[IvfPqMeta] =
    lines.headOption.flatMap { stamp =>
      stamp.split(":") match {
        case Array(_, nlistStr, mStr, kStr, _*) =>
          val (nlist, m, ksub) = (nlistStr.toInt, mStr.toInt, kStr.toInt)
          val (occ, rest0) = lines.tail match {
            case o +: rest if o.startsWith("occ:") =>
              (Some(o.drop(4).split(",").filter(_.nonEmpty).map(_.toLong)), rest)
            case rest => (None, rest)
          }
          val (manifest, matrixLines) = IvfIndex.CellManifest.parse(rest0)
          val rows = matrixLines.map(_.split(",").map(_.toFloat)).toArray
          if (rows.length != nlist + m * ksub) None
          else Some(IvfPqMeta(stamp, occ, rows.take(nlist),
            Array.tabulate(m)(j =>
              Array.tabulate(ksub)(c => rows(nlist + j * ksub + c))),
            manifest))
        case _ => None
      }
    }

  private val IvfPqMetaName = "_ivfpq_meta"

  private def readIvfPqMeta(df: DataFrame, path: String): Option[IvfPqMeta] =
    readMetaFileLines(hconf(df), path, IvfPqMetaName).flatMap(parseIvfPqMetaLines)

  /** Per-cell occupancy straight off the stamp file's `occ:` line —
    * [[IvfIndex.readOccupancy]]'s contract on the composed artifact:
    * driver-side metadata, NO Spark job. None when no artifact exists or
    * a pre-occupancy artifact never recorded it. */
  private[graft] def readOccupancy(spark: SparkSession,
      path: String): Option[Array[Long]] =
    readMetaFileLines(spark.sparkContext.hadoopConfiguration, path,
      IvfPqMetaName).flatMap(parseIvfPqMetaLines).flatMap(_.occupancy)

  /** The one renderer both meta-write paths share — a second copy could
    * drift from the parser. Mints a fresh manifest generation nonce on
    * every render-for-write ([[IvfIndex.newGen]]'s contract: any meta
    * write changes gen, so [[IvfIndex.stableRead]] detects maintenance
    * completing mid-resolution). */
  private def renderIvfPqMeta(meta: IvfPqMeta): Seq[String] =
    meta.stamp +:
      (meta.occupancy.map("occ:" + _.mkString(",")).toSeq ++
        IvfIndex.CellManifest.render(
          meta.manifest.copy(gen = IvfIndex.newGen())) ++
        meta.centroids.toSeq.map(_.mkString(",")) ++
        meta.codebooks.toSeq.flatMap(_.toSeq).map(_.mkString(",")))

  private def writeIvfPqMeta(df: DataFrame, path: String,
      meta: IvfPqMeta): Unit =
    writeMetaFileLines(hconf(df), path, IvfPqMetaName, renderIvfPqMeta(meta))

  /** Ensure a persisted IVF-PQ index exists at `path`: a
    * `partitionBy(cell_id)` parquet of (id, code) — the two scale levers
    * COMPOSED, which is what a 100 TB ANN deployment actually runs. A
    * probe prunes to nprobe cell directories at file-listing time
    * ([[IvfIndex.persist]]'s property) and then scans only m-byte codes
    * inside them ([[searchAdc]]'s property): a 4-of-64-cell probe over
    * PQ codes reads ~1/16 of the files at ~1/32 of the bytes per row —
    * three orders of magnitude off the raw-vector full scan before any
    * ranking work happens. One quantizer pass each (coarse + PQ, both
    * bounded driver samples), one codegen encode pass, one write. */
  def buildIfAbsentIvfPq(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, m: Int, ksub: Int, path: String,
      sampleFraction: Double = 1.0): (Array[Array[Float]], Array[Array[Array[Float]]]) = {
    // (id, embedding) fingerprint — [[stampOf]]'s contract: in-place
    // embedding regeneration invalidates, not just id/count changes
    val (n, fp) = ArtifactMeta.fingerprint(corpus, Seq(idCol, embCol))
    val stamp = s"$n:$nlist:$m:$ksub:$sampleFraction:fp$fp"
    def fresh() = readIvfPqMeta(corpus, path) match {
      case Some(meta) if meta.stamp == stamp &&
          !ArtifactMeta.journalTorn(corpus.sparkSession, path, IvfPqJournal,
            meta.stamp) =>
        Some((meta.centroids, meta.codebooks))
      case _ => None
    }
    fresh().getOrElse { // fast path: lock-free validate of a fresh index
      ArtifactMeta.withBuildLock(corpus, path) {
        // double-checked: reuse a racing builder's finished artifact
        fresh().getOrElse {
          val centroids = IvfIndex.trainCentroids(corpus, embCol, nlist,
            sampleFraction)
          val cbs = trainCodebooks(corpus, embCol, m, ksub, sampleFraction)
          encodeIvfPq(corpus, idCol, embCol, centroids, cbs)
            .repartition(col("cell_id"))
            .write.mode("overwrite").partitionBy("cell_id").parquet(path)
          val fm = IvfIndex.freshManifest(corpus.sparkSession, path)
          writeIvfPqMeta(corpus, path, IvfPqMeta(stamp,
            Some(IvfIndex.cellOccupancyOf(corpus.sparkSession, path, fm,
              nlist)),
            centroids, cbs, fm))
          (centroids, cbs)
        }
      }
    }
  }

  /** The IVF-PQ row shape: (id, code, cell_id) — one codegen pass doing
    * both quantizations. */
  private def encodeIvfPq(df: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    df.select(col(idCol).as("id"),
      pqEncode(col(embCol), codebooks).as("code"),
      nearestCentroid(col(embCol), centroids).as("cell_id"))

  /** Append a batch to a persisted IVF-PQ index WITHOUT retraining or
    * rewriting — [[IvfIndex.append]]'s contract on the composed
    * artifact: both quantizers are REUSED from the stamp file (a
    * quantizer does not need retraining for an ingest increment;
    * quantization error drifts only as the data distribution does, and
    * the exact refine re-rank absorbs it), the batch lands as new files
    * inside the existing `cell_id=` partitions (existing files are never
    * read or rewritten — O(batch) regardless of artifact size), the
    * stamp advances additively ([[ArtifactMeta.fingerprint]] is an
    * additive sum, so a later [[buildIfAbsentIvfPq]] over the grown
    * corpus validates instead of re-encoding), and the stored per-cell
    * occupancy is refreshed (a partition-column-only scan) so
    * [[compactIvfPq]]'s drift check stays metadata-only.
    *
    * Returns the (reused) (centroids, codebooks). */
  def appendIvfPq(batch: DataFrame, idCol: String, embCol: String,
      path: String): (Array[Array[Float]], Array[Array[Array[Float]]]) =
      ArtifactMeta.withBuildLock(batch, path) {
    val meta = readIvfPqMeta(batch, path).getOrElse(
      throw new IllegalStateException(
        s"no IVF-PQ index at $path — run buildIfAbsentIvfPq before append"))
    val Array(count, nlist, m, ksub, sampleFraction, fp) =
      meta.stamp.split(":", 6) match {
        case a if a.length == 6 && a(5).startsWith("fp") => a
        case _ => throw new IllegalStateException(
          s"IVF-PQ index at $path predates content-fingerprint stamps — " +
            "delete it (or its _ivfpq_meta) and rebuild")
      }
    ArtifactMeta.journalGuard(batch.sparkSession, path, IvfPqJournal,
      meta.stamp)
    // tombstone half of the ID CONTRACT (the [[graft.ops.Lexical.append]]
    // rule): a pending-delete id may not be re-appended — its old codes
    // rows are still present, so the tombstone would mask the new rows
    // while the stamp advanced
    ArtifactMeta.requireNoPendingTombstones(batch, idCol, tombDir(path),
      "run applyDeletesIvfPq first")
    val (bn, bfp) = ArtifactMeta.fingerprint(batch, Seq(idCol, embCol))
    val next = s"${count.toLong + bn}:$nlist:$m:$ksub:$sampleFraction" +
      s":fp${BigInt(fp.drop(2)) + bfp}"
    ArtifactMeta.write(batch.sparkSession, path, IvfPqJournal, next)
    val encoded = encodeIvfPq(batch, idCol, embCol, meta.centroids,
      meta.codebooks).cache()
    val batchCells = encoded.select("cell_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    // disowned root cell dirs (a crashed cleanup's leftovers) die before
    // the batch writes into them — adopting one would duplicate the
    // survivors already living in an apply parent ([[IvfIndex.append]]'s
    // manifest contract)
    val rootFs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    meta.manifest.base.foreach { b =>
      batchCells.filterNot(b.contains).foreach { c =>
        val d = new org.apache.hadoop.fs.Path(path, s"cell_id=$c")
        if (rootFs.exists(d)) rootFs.delete(d, true)
      }
    }
    encoded.write.mode("append").partitionBy("cell_id").parquet(path)
    encoded.unpersist()
    // base grows by the batch's own cells in the same meta write that
    // advances the stamp
    val grown = meta.manifest.copy(base = meta.manifest.base.map(b =>
      (b ++ batchCells).distinct.sorted))
    writeIvfPqMeta(batch, path, IvfPqMeta(next,
      Some(IvfIndex.cellOccupancyOf(batch.sparkSession, path, grown,
        nlist.toInt)),
      meta.centroids, meta.codebooks, grown))
    ArtifactMeta.delete(batch.sparkSession, path, IvfPqJournal)
    (meta.centroids, meta.codebooks)
  }

  /** Rebalance a persisted IVF-PQ index whose cell occupancy has drifted
    * past `maxSkew` — [[IvfIndex.compact]]'s contract on the composed
    * artifact: [[appendIvfPq]] reuses both quantizers forever, so a
    * drifting distribution piles rows into hot cells (probe cost degrades)
    * AND ages the codebooks (ADC candidate quality degrades); when the
    * metadata-only skew check trips, both are retrained from the current
    * corpus and the codes rewritten. Returns true iff a rewrite happened.
    * After compaction the stamp carries the corpus fingerprint, so a
    * following [[buildIfAbsentIvfPq]] validates without rebuilding. */
  def compactIvfPq(corpus: DataFrame, idCol: String, embCol: String,
      path: String, maxSkew: Double = 4.0): Boolean =
      ArtifactMeta.withBuildLock(corpus, path) {
    val meta = readIvfPqMeta(corpus, path).getOrElse(
      throw new IllegalStateException(
        s"no IVF-PQ index at $path — run buildIfAbsentIvfPq before compact"))
    ArtifactMeta.journalGuard(corpus.sparkSession, path, IvfPqJournal,
      meta.stamp)
    val parts = meta.stamp.split(":", 6)
    val (nlist, m, ksub) = (parts(1).toInt, parts(2).toInt, parts(3).toInt)
    val occ = meta.occupancy.getOrElse(
      IvfIndex.cellOccupancyOf(corpus.sparkSession, path, meta.manifest,
        nlist))
    if (IvfIndex.occupancySkew(occ.toSeq) <= maxSkew) false
    else {
      val sampleFraction = parts(4).toDouble
      val centroids = IvfIndex.trainCentroids(corpus, embCol, nlist,
        sampleFraction)
      val cbs = trainCodebooks(corpus, embCol, m, ksub, sampleFraction)
      encodeIvfPq(corpus, idCol, embCol, centroids, cbs)
        .repartition(col("cell_id"))
        .write.mode("overwrite").partitionBy("cell_id").parquet(path)
      val (n, fp) = ArtifactMeta.fingerprint(corpus, Seq(idCol, embCol))
      val fm = IvfIndex.freshManifest(corpus.sparkSession, path)
      writeIvfPqMeta(corpus, path, IvfPqMeta(
        s"$n:$nlist:$m:$ksub:$sampleFraction:fp$fp",
        Some(IvfIndex.cellOccupancyOf(corpus.sparkSession, path, fm, nlist)),
        centroids, cbs, fm))
      true
    }
  }

  /** Matrices of a persisted IVF-PQ index off its stamp file (oracle
    * path — pure function of on-disk state). */
  def ivfPqMetaAt(spark: SparkSession,
      path: String): Option[(Array[Array[Float]], Array[Array[Array[Float]]])] =
    readMetaFileLines(spark.sparkContext.hadoopConfiguration, path, IvfPqMetaName)
      .flatMap(parseIvfPqMetaLines).map(m => (m.centroids, m.codebooks))

  /** IVF-PQ search: partition-pruned cells → ADC top k×refine over the
    * m-byte codes → exact cosine re-rank of just those candidates against
    * the raw vectors. Probe-cell choice is [[IvfIndex.probeCells]]'s
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
  def searchIvfPq(codes: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], query: Array[Float],
      k: Int, nprobe: Int, refine: Int = 4,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None): DataFrame = {
    val cells = IvfIndex.probeCells(centroids, query, nprobe)
    val probed = codes.filter(col("cell_id").isin(cells: _*))
    val masked = allowed.fold(probed)(m =>
      probed.join(m.select(col("id")), Seq("id"), "left_semi"))
    val cand = masked
      .withColumn("adc_score",
        round4(pqAdcScore(col("code"), adcLut(codebooks, query))))
      .orderBy(desc("adc_score"), col("id"))
      .limit(k * refine)
      .select("id")
    // drop the candidate side's id right after the join: with idCol ==
    // "id" the two would otherwise collide and every later col(idCol)
    // reference is ambiguous. rawFloor cuts on the refine stage's RAW
    // cosine (the only exact score this family computes) BEFORE rounding
    // and the final top-k — the serving front doors' brute-arm parity;
    // the approximate ADC candidate stage is never floored.
    val refined = corpus.join(broadcast(cand), corpus(idCol) === cand("id"))
      .drop(cand("id"))
      .withColumn("_raw", vecCosine(col(embCol), lit(query)))
    rawFloor.fold(refined)(f => refined.filter(col("_raw") >= f))
      .withColumn("score", round4(col("_raw")))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** Batch ADC serving over a cell-partitioned codes table — q37's
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
  def searchBatchIvfPq(codes: DataFrame, corpus: DataFrame, idCol: String,
      embCol: String, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      queryIdCol: String, qvCol: String, k: Int, nprobe: Int,
      refine: Int = 4, maxBatch: Int = 8192,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None): DataFrame = {
    val q = queries.select(col(queryIdCol).cast("long").as("query_id"),
      col(qvCol).as("qv"))
    val cand = searchBatchAdc(codes, centroids, codebooks, q,
      "query_id", "qv", k * refine, nprobe, maxBatch, allowed)
    refineBatch(cand, corpus, idCol, embCol, q, k, rawFloor)
  }

  /** The exact-cosine re-rank stage of [[searchBatchIvfPq]], shared
    * with the fill ladder: join the ADC candidates back to their raw
    * vectors, score each against its own query, keep k per query. */
  private def refineBatch(cand: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, q: DataFrame, k: Int,
      rawFloor: Option[Double] = None): DataFrame = {
    val scored0 = cand.select(col("query_id"), col("id"))
      .join(corpus.select(col(idCol).cast("long").as("id"),
        col(embCol).as("_emb")), Seq("id"))
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
  def searchBatchFillIvfPq(codes: DataFrame, corpus: DataFrame,
      idCol: String, embCol: String, centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]], queries: DataFrame,
      queryIdCol: String, qvCol: String, k: Int, nprobe: Int,
      refine: Int = 4, maxBatch: Int = 8192,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None,
      track: DataFrame => Unit = _ => ()): (DataFrame, (Int, Int)) = {
    val cds = allowed.fold(codes)(m =>
      codes.join(m.select(col("id")), Seq("id"), "left_semi"))
    IvfIndex.fillLadder(queries, queryIdCol, qvCol, k, nprobe,
      centroids.length, maxBatch, track) { (qf, np, small) =>
      val cand =
        if (small) searchBatchAdcSlice(cds, centroids, codebooks, qf,
          k * refine, np)
        else searchBatchAdc(cds, centroids, codebooks, qf, "query_id",
          "qv", k * refine, np, maxBatch)
      refineBatch(cand, corpus, idCol, embCol, qf, k, rawFloor)
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
