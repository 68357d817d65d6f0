package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** IVF (inverted-file) approximate nearest-neighbor index — the scale path
  * beside brute-force exact ranking (reference semantics ranks everything,
  * memo_cli.py:291; this trades recall for a ~nlist/nprobe scan reduction).
  *
  * Build: k-means coarse quantizer (MLlib, fixed seed) over a sample →
  * centroids broadcast → every vector assigned to its nearest centroid cell.
  * The index DataFrame is partitioned by cell, so a query reads only its
  * probed cells — at 100 TB the cells map to parquet partitions and
  * partition pruning skips the rest of the corpus.
  *
  * Search: query→centroid distances picked driver-side (nlist is small),
  * exact cosine re-rank inside the nprobe nearest cells.
  */
object IvfIndex {

  /** Where each cell's LIVE rows are — the manifest half of a
    * cell-partitioned artifact's meta, [[graft.ops.Lexical]]'s
    * manifest-gated visibility adapted to `cell_id=` layouts. A cell's
    * rows live in the ROOT layout (`path/cell_id=<c>`, where build and
    * every append write) and/or in ONE apply parent
    * (`path/_apply_<tag>/cell_id=<c>`, where [[applyDeletes]] staged its
    * last physical rewrite of the cell; underscore prefix → invisible to
    * a root listing).
    *
    * `base == None` is the ungated world (no physical apply has ever
    * run): the root listing IS the truth and reads are a plain
    * `spark.read.parquet(path)`. After the first apply the meta pins
    * `base` (root cells) and `parents` (per-tag cell sets) explicitly,
    * and every read resolves THROUGH the manifest — a probe sees the
    * complete directory set one atomic meta swap published, never a
    * mid-maintenance mixture; superseded dirs are deleted only AFTER the
    * swap, so a probe on the old manifest fails loudly instead of
    * silently missing a cell. The loud-transient class (retry resolves
    * the new manifest): FileNotFound / path-does-not-exist on a deleted
    * file or cell dir, and `basePath`-option validation failure when an
    * entire superseded parent died.
    *
    * `gen` is the manifest GENERATION nonce: every meta write mints a
    * fresh one ([[newGen]], stamped by the low-level writers), and the
    * serving reads ([[stableRead]]) re-read it after constructing their
    * plan — DataFrame construction performs the eager file listing, so
    * "gen unchanged across the construction" proves no maintenance op
    * published between the manifest read and the listing. That closes
    * the one formerly-documented silent window (an apply moving cell c
    * out of base AND an append recreating root `cell_id=c`, both
    * completing inside a single probe's resolution — the recreated dir
    * would have satisfied the stale manifest's path with only the
    * batch's rows): any such pair bumps gen, the probe detects the
    * movement and re-resolves. Every race outcome is now correct,
    * retried, or loud — never silently short. */
  private[ops] final case class CellManifest(base: Option[Seq[Int]],
      parents: Seq[(String, Seq[Int])],
      dataSchema: Option[org.apache.spark.sql.types.StructType] = None,
      gen: String = "") {
    def gated: Boolean = base.isDefined
  }

  private[ops] object CellManifest {
    val Ungated: CellManifest = CellManifest(None, Nil)

    /** Split meta lines: ([manifest lines consumed], rest). Manifest
      * lines sit between the optional `occ:` line and the matrix rows;
      * float rows can never start with `base:`/`par:`/`schema:`. */
    def parse(lines: Seq[String]): (CellManifest, Seq[String]) = {
      val (mfLines, rest) = lines.span(l =>
        l.startsWith("base:") || l.startsWith("par:") ||
          l.startsWith("schema:") || l.startsWith("gen:"))
      val base = mfLines.find(_.startsWith("base:"))
        .map(_.drop(5).split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
      val parents = mfLines.filter(_.startsWith("par:")).map { l =>
        val Array(tag, cells) = l.drop(4).split("=", 2)
        (tag, cells.split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
      }
      val schema = mfLines.find(_.startsWith("schema:")).map(l =>
        org.apache.spark.sql.types.DataType.fromJson(l.drop(7))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      val gen = mfLines.find(_.startsWith("gen:")).map(_.drop(4)).getOrElse("")
      (CellManifest(base, parents, schema, gen), rest)
    }

    def render(m: CellManifest): Seq[String] =
      m.base.map(b => "base:" + b.mkString(",")).toSeq ++
        m.parents.map { case (t, cs) => s"par:$t=" + cs.mkString(",") } ++
        m.dataSchema.map(s => "schema:" + s.json).toSeq ++
        (if (m.gen.nonEmpty) Seq("gen:" + m.gen) else Nil)
  }

  /** A fresh manifest-generation nonce — minted by every meta write (the
    * low-level writers stamp it, so no call site can forget), compared by
    * [[stableRead]] to detect maintenance completing mid-resolution. */
  private[ops] def newGen(): String = java.util.UUID.randomUUID().toString

  private[ops] def applyParentDir(path: String, tag: String): String =
    s"$path/_apply_$tag"

  /** Cell ids whose `cell_id=` dirs exist under `dir`. */
  private[ops] def listCellDirs(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[Int] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("cell_id=")).map(_.drop(8).toInt).sorted

  /** The manifest a freshly-(re)written root layout serves under: every
    * root cell in base, no apply parents. Metas are ALWAYS gated from
    * build on — probes then resolve explicit directory sets for the
    * artifact's whole lifecycle, so a racing maintenance delete is
    * always the loud FileNotFound transient, never a silently smaller
    * implicit listing. */
  private[ops] def freshManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): CellManifest = {
    val hp = new org.apache.hadoop.fs.Path(path)
    // the data schema rides in the manifest so probes DECLARE it: a
    // probe racing a maintenance delete then reads an emptied dir as
    // empty-or-FileNotFound (documented transients), never
    // UNABLE_TO_INFER_SCHEMA — and skips a footer round-trip besides
    CellManifest(
      Some(listCellDirs(
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)),
      Nil, Some(spark.read.parquet(path).schema))
  }

  /** The artifact's live physical rows, resolved through the manifest
    * (tombstoned rows INCLUDED — callers that serve exclude them via
    * [[ArtifactMeta.excludeTombstones]]; occupancy is deliberately
    * physical). Ungated manifest → one plain root read, byte-identical
    * plans to the pre-manifest layout (partition pruning at file listing
    * either way: explicit dirs carry their `cell_id=` names through
    * `basePath`). */
  private[ops] def resolveCellData(spark: org.apache.spark.sql.SparkSession,
      path: String, manifest: CellManifest): DataFrame =
    manifest.base match {
      case None => spark.read.parquet(path)
      case Some(baseCells) =>
        def reader(basePath: String) = {
          val r = spark.read.option("basePath", basePath)
          manifest.dataSchema.fold(r)(r.schema)
        }
        val reads =
          (if (baseCells.isEmpty) Nil
           else Seq(reader(path)
             .parquet(baseCells.map(c => s"$path/cell_id=$c"): _*))) ++
          manifest.parents.map { case (tag, cells) =>
            val parent = applyParentDir(path, tag)
            reader(parent)
              .parquet(cells.map(c => s"$parent/cell_id=$c"): _*)
          }
        reads.reduceOption(_.unionByName(_)).getOrElse {
          // every row of every cell deleted: serve an EMPTY frame under
          // the declared schema (without it, inference over a dir of
          // underscore files would throw UNABLE_TO_INFER_SCHEMA)
          val r = manifest.dataSchema.fold(spark.read)(spark.read.schema)
          r.parquet(path)
        }
    }

  /** Train the coarse quantizer: collect a bounded, deterministically
    * ordered sample to the driver and run Lloyd's iterations locally.
    *
    * A coarse quantizer never needs the full corpus — at 100 TB you sample
    * ~10-100k vectors (a few MB) and train in milliseconds on the driver;
    * only the ASSIGNMENT pass (build) is distributed. This replaces ~15
    * MLlib jobs of scheduling overhead with one collect. 8 Lloyd
    * iterations suffice: cells only gate which partitions a probe reads. */
  def trainCentroids(corpus: DataFrame, embCol: String, nlist: Int,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      maxSample: Int = 20000, maxIter: Int = 8): Array[Array[Float]] =
    centroidsOf(trainingSample(corpus, embCol, sampleFraction, seed,
      maxSample), nlist, maxIter)

  /** The bounded driver sample both quantizers train on: up to
    * `maxSample` vectors in xxhash64 order, a deterministic order
    * independent of partition layout. [[trainCentroids]] and
    * [[PqIndex.trainCodebooks]] each collect it; a build that trains
    * both collects it once. */
  private[ops] def trainingSample(corpus: DataFrame, embCol: String,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      maxSample: Int = 20000): Array[Array[Float]] =
    (if (sampleFraction < 1.0)
        corpus.sample(withReplacement = false, sampleFraction, seed)
      else corpus)
      .select(col(embCol).as("e"))
      .withColumn("h", xxhash64(col("e")))
      .orderBy("h").limit(maxSample)
      .collect().map(_.getSeq[Float](0).toArray)

  /** Lloyd's iterations of [[trainCentroids]] over a collected sample. */
  private def centroidsOf(sampled: Array[Array[Float]], nlist: Int,
      maxIter: Int): Array[Array[Float]] = {
    require(sampled.length >= nlist, s"sample ${sampled.length} < nlist $nlist")
    val dim = sampled(0).length
    // init: hash-ordered sample is pseudo-random → take the first nlist
    val centroids = Array.tabulate(nlist)(i => sampled(i).clone())
    val assign = new Array[Int](sampled.length)
    var iter = 0
    while (iter < maxIter) {
      var changed = false
      var r = 0
      while (r < sampled.length) {
        val v = sampled(r)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < nlist) {
          var d = 0.0; var i = 0
          val ctr = centroids(c)
          while (i < dim) { val t = v(i) - ctr(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(r) != best) { assign(r) = best; changed = true }
        r += 1
      }
      if (!changed && iter > 0) iter = maxIter
      else {
        val sums = Array.ofDim[Double](nlist, dim)
        val counts = new Array[Int](nlist)
        r = 0
        while (r < sampled.length) {
          val c = assign(r); val v = sampled(r)
          var i = 0
          while (i < dim) { sums(c)(i) += v(i); i += 1 }
          counts(c) += 1
          r += 1
        }
        var c = 0
        while (c < nlist) {
          if (counts(c) > 0) {
            var i = 0
            while (i < dim) {
              centroids(c)(i) = (sums(c)(i) / counts(c)).toFloat
              i += 1
            }
          }
          c += 1
        }
      }
      iter += 1
    }
    centroids
  }

  /** Distributed Lloyd refinement over the FULL corpus, starting from
    * (sample-trained) centroids — the EM step at corpus scale, for builds
    * willing to pay `iters` extra scans to buy back sample bias. Each
    * iteration: one codegen assignment pass + per-(cell, dim) means via
    * EXACT DECIMAL sums — decimal addition is associative, so the means
    * (and therefore the refined matrix) are LAYOUT-INDEPENDENT, preserving
    * [[trainCentroids]]' determinism contract where a double sum would
    * drift with partitioning. Driver traffic per iteration is the centroid
    * matrix itself (nlist × dim aggregate rows). Empty cells keep their
    * previous centroid (Lloyd's convention, as in [[trainCentroids]]). */
  def refineCentroids(corpus: DataFrame, embCol: String,
      centroids: Array[Array[Float]], iters: Int = 1): Array[Array[Float]] = {
    var ctr = centroids
    (0 until iters).foreach { _ =>
      val rows = corpus
        .select(nearestCentroid(col(embCol), ctr).as("cell_id"),
          posexplode(col(embCol)).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos")
        // count the SUMMED values (non-null), not rows: a null element
        // must neither deflate the mean nor null the sum out from under a
        // positive count
        .agg(sum(col("x").cast("decimal(38,18)")).as("s"),
          count(col("x")).as("n"))
        .collect()
      val next = ctr.map(_.clone())
      rows.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        val n = r.getLong(3)
        if (c >= 0 && c < next.length && p >= 0 && p < next(c).length &&
            n > 0 && r.getDecimal(2) != null)
          next(c)(p) =
            (BigDecimal(r.getDecimal(2)) / BigDecimal(n)).toFloat
      }
      ctr = next
    }
    ctr
  }

  /** Mean squared quantization error of the corpus against `centroids` —
    * the diagnostic [[refineCentroids]] improves (codegen assignment
    * distance, one aggregate). NaN on an empty (or all-null) corpus. */
  def quantizationError(corpus: DataFrame, embCol: String,
      centroids: Array[Array[Float]]): Double = {
    val row = corpus.select(nearestCentroidDist(col(embCol), centroids).as("d"))
      .agg(avg(col("d"))).collect()(0)
    if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
  }

  /** Assign every vector to its cell; result is hash-partitioned by cell so
    * each query's probe touches few partitions. Assignment is the codegen
    * [[graft.functions.NearestCentroid]] expression — the one full-corpus
    * pass stays inside whole-stage codegen, no per-row UDF serialization.
    * With `codebooks` the same pass also emits each row's m-byte PQ
    * `code` ([[graft.functions.PqEncode]]) — the cell-partitioned
    * IVF-PQ layout (FAISS's IndexIVFPQ: one coarse quantizer, codes in
    * its cells), which [[PqIndex.searchIvfPq]] scans through Parquet
    * column pruning without reading the raw vectors. */
  def build(corpus: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Float]],
      codebooks: Option[Array[Array[Array[Float]]]] = None): DataFrame =
    corpus.select(Seq(col(idCol).as("id"), col(embCol).as("embedding")) ++
        codebooks.map(cb => pqEncode(col(embCol), cb).as("code")): _*)
      .withColumn("cell_id", nearestCentroid(col("embedding"), centroids))
      .repartition(col("cell_id"))

  /** Persist a built index as a `partitionBy(cell_id)` parquet layout: one
    * directory per cell, so a probe's cell filter is answered at FILE
    * LISTING time — at 100 TB a 4-of-64-cell probe literally never opens
    * the other 60 cells' files. [[search]] over [[load]] shows the pruning
    * as `PartitionFilters` on the scan. */
  def persist(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("cell_id").parquet(path)

  /** Append-intent journal + pending-delete tombstones (underscore names:
    * invisible to the parquet reader scanning `path`). */
  private val Journal = "_ivf_journal"
  private def tombDir(path: String) = s"$path/_tombstones"

  private def readTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombDir(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(p.toString).select("id"))
    else None
  }

  /** A cell-partitioned artifact's manifest — ungated when no meta exists
    * (a bare [[persist]]ed layout). HEADER-ONLY: probes call this on
    * every read, so the stream stops at the first matrix row — the
    * centroid/codebook floats (the bulk of the file) are never read, let
    * alone materialized. */
  private[graft] def readHeaderManifest(
      conf: org.apache.hadoop.conf.Configuration,
      path: String): CellManifest = {
    val (fs, metaPath) = metaFile(conf, path)
    if (!fs.exists(metaPath)) CellManifest.Ungated
    else {
      val in = fs.open(metaPath)
      try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, "UTF-8"))
        br.readLine() // stamp line — not part of the manifest
        val hdr = Vector.newBuilder[String]
        var line = br.readLine()
        var done = false
        while (line != null && !done) {
          if (line.startsWith("occ:") || line.startsWith("base:") ||
              line.startsWith("par:") || line.startsWith("schema:") ||
              line.startsWith("gen:")) {
            if (!line.startsWith("occ:")) hdr += line
            line = br.readLine()
          } else done = true
        }
        CellManifest.parse(hdr.result())._1
      } finally in.close()
    }
  }

  /** Construct a probe frame under a STABLE manifest generation: read the
    * manifest, build the frame (DataFrame construction performs the eager
    * file listing), then re-read the generation nonce — if it moved, a
    * maintenance op completed mid-resolution and the listing may not
    * match the manifest that guided it, so re-resolve from the fresh
    * manifest. This is what makes the visibility contract total: a probe
    * serves the complete state some single manifest described, retries,
    * or fails loudly — the formerly-documented two-ops silent window
    * (apply + append recreating a root cell inside one resolution) is
    * detected by the gen bump and retried. Bounded attempts: churn so
    * relentless that five successive resolutions each overlap a complete
    * maintenance op surfaces as a loud, retriable error, never a wrong
    * answer.
    *
    * CONSTRUCTION-TIME loud transients (an old-manifest listing reaching
    * a dir a completed apply already deleted: FileNotFound-family /
    * basePath validation) are absorbed by the same loop — superseded
    * dirs die only AFTER the new manifest publishes, so the re-read
    * resolves the fresh state immediately; a transient that persists
    * through every attempt (a genuinely missing artifact) rethrows
    * as-is. EXECUTION-time races (files deleted between this return and
    * the caller's action) remain the caller-visible transient class the
    * churn specs pin. */
  private[ops] def stableRead(spark: org.apache.spark.sql.SparkSession,
      path: String, construct: CellManifest => DataFrame): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    var attempts = 0
    var lastTransient: Throwable = null
    while (attempts < 5) {
      val m = readHeaderManifest(conf, path)
      val df =
        try Some(construct(m))
        catch { case e: Throwable if isLoudTransient(e) =>
          lastTransient = e; None }
      df match {
        case Some(d)
            if readHeaderManifest(conf, path).gen == m.gen =>
          return d
        case _ => attempts += 1
      }
    }
    if (lastTransient != null) throw lastTransient
    throw new IllegalStateException(
      s"manifest generation at $path kept changing across $attempts " +
        "resolution attempts — maintenance churn outpaced this probe; retry")
  }

  /** The documented loud-transient class of a probe racing maintenance
    * cleanup — missing file/dir, or the `basePath` option failing
    * validation because an entire superseded parent died (the same list
    * the adversarial churn specs allow). */
  private def isLoudTransient(e: Throwable): Boolean = {
    val s = e.toString + Option(e.getCause).fold("")(_.toString)
    // "NoSuchFile": the java.nio shape of a vanished file on a local
    // Linux FS — Spark's parquet reader surfaces a mid-scan delete of a
    // superseded dir's data (or its .crc sidecar) as FAILED_READ_FILE
    // wrapping NoSuchFileException, not as FileNotFoundException
    s.contains("FileNotFound") || s.contains("NoSuchFile") ||
      s.contains("does not exist") ||
      s.contains("FILE_NOT_EXIST") || s.contains("PATH_NOT_FOUND") ||
      s.contains("basePath")
  }

  private[graft] val MetaName = "_ivf_centroids"

  /** Read a persisted index back (cell_id is the partition column),
    * resolved through the cell manifest under a STABLE generation
    * ([[stableRead]]: complete-old-or-complete-new visibility even
    * against back-to-back [[applyDeletes]]/[[append]] pairs), excluding
    * any docs retracted by [[delete]] that the apply has not yet folded
    * away ([[ArtifactMeta.excludeTombstones]]). An artifact with codes
    * reads (id, embedding, code, cell_id): the IVF probe projects
    * `embedding`, the ADC scan `code`, and column pruning keeps each
    * read to its own column. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    stableRead(spark, path, m =>
      ArtifactMeta.excludeTombstones(resolveCellData(spark, path, m),
        tombDir(path), "id"))

  /** Ensure a persisted index exists at `path` for this corpus and return
    * its centroids — the build-once / probe-many lifecycle of a real ANN
    * index. The centroid matrix, a validity stamp (corpus row count +
    * nlist + sample fraction + content fingerprint), and the per-cell
    * occupancy are stored beside the parquet in `_ivf_centroids`
    * (underscore prefix: invisible to the parquet reader; read/written
    * through the HADOOP filesystem of `path`, so the check works on
    * HDFS/object stores, not just the driver's local disk); a stamp
    * mismatch triggers a full retrain + rewrite. The fingerprint
    * ([[ArtifactMeta.fingerprint]] over id + embedding) closes the
    * count-only freshness hole: data regenerated IN PLACE with an
    * identical row count now invalidates the index, at the cost of one
    * column scan per build check. Training stays a bounded driver sample
    * ([[trainCentroids]]); the assignment pass is distributed codegen.
    *
    * `pq = Some((m, ksub))` gives the artifact its codes half: PQ
    * codebooks ([[PqIndex.trainCodebooks]], same sample rule) are trained
    * beside the centroids, every row carries its `code` ([[build]]), and
    * the stamp and meta record m/ksub plus the codebook rows
    * ([[metaAt]]). Without it the artifact and its meta are the plain
    * IVF layout. */
  def buildIfAbsent(corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, path: String, sampleFraction: Double = 1.0,
      refineIters: Int = 0,
      pq: Option[(Int, Int)] = None): Array[Array[Float]] = {
    val conf = hconf(corpus)
    val (n, fp) = ArtifactMeta.fingerprint(corpus, Seq(idCol, embCol))
    // refineIters rides in the stamp: changing the refinement config must
    // invalidate like any other config change, and a paid refinement must
    // not be silently discarded by the next freshness check
    val stamp = Stamp(n, nlist, sampleFraction, refineIters, pq, fp)
    // a pending journal that contradicts the live stamp marks a torn
    // append (crash between data write and stamp advance): the stamp can
    // no longer be trusted to describe the data — force the rebuild arm
    def fresh(): Option[Array[Array[Float]]] = readMeta(conf, path)
      .filter(m => m.stamp == stamp.render && !ArtifactMeta.journalTorn(
        corpus.sparkSession, path, Journal, m.stamp))
      .map(_.centroids)
    fresh().getOrElse { // fresh: lock-free
      ArtifactMeta.withBuildLock(corpus, path) {
        // double-checked: a racing builder may have finished while we
        // waited for the lock — its stamp validates and we reuse
        fresh().getOrElse(rewrite(corpus, idCol, embCol, path, stamp))
      }
    }
  }

  /** Train the quantizers `stamp` names over `corpus` — the centroids
    * (plus distributed refinement when configured) and, for an artifact
    * with codes, the PQ codebooks — then rewrite the whole artifact and
    * publish its meta. The one full-rewrite path of [[buildIfAbsent]]
    * and [[compact]]: old codes are meaningless under new centroids, so
    * codebooks always retrain together with them. Returns the
    * centroids. */
  private def rewrite(corpus: DataFrame, idCol: String, embCol: String,
      path: String, stamp: Stamp): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    val sample = trainingSample(corpus, embCol, stamp.sampleFraction)
    val sampled = centroidsOf(sample, stamp.nlist, maxIter = 8)
    val centroids =
      if (stamp.refineIters > 0) refineCentroids(corpus, embCol, sampled,
        stamp.refineIters)
      else sampled
    val codebooks = stamp.pq.map { case (m, ksub) =>
      PqIndex.codebooksOf(sample, m, ksub, maxIter = 8) }
    persist(build(corpus, idCol, embCol, centroids, codebooks), path)
    val fm = freshManifest(spark, path)
    writeMeta(hconf(corpus), path, Meta(stamp.render,
      Some(cellOccupancyOf(spark, path, fm, stamp.nlist)), centroids, fm,
      codebooks))
    centroids
  }

  /** Append a batch to a persisted index WITHOUT retraining or rewriting —
    * the maintenance path [[buildIfAbsent]]'s full-rebuild stamp check
    * doesn't cover. Centroids (and codebooks, on an artifact with codes)
    * are REUSED from the stored meta (a quantizer does not need
    * retraining for an ingest increment; cell balance and quantization
    * error drift only as the data distribution does), the batch is
    * codegen-assigned to cells (and encoded), and its rows land as NEW
    * files inside the existing `cell_id=` partition directories
    * (`mode("append")` + `partitionBy` — existing files are never read
    * or rewritten, so the cost is O(batch) regardless of index size).
    * The stamp's row count is advanced so a later [[buildIfAbsent]] over
    * the grown corpus validates against the index instead of retraining
    * it.
    *
    * Returns the (reused) centroids. */
  def append(batch: DataFrame, idCol: String, embCol: String,
      path: String): Array[Array[Float]] =
      ArtifactMeta.withBuildLock(batch, path) {
    val conf = hconf(batch)
    val meta = requireMeta(conf, path, "append")
    val spark = batch.sparkSession
    // journal protocol (the Lexical shape): a crash between the data
    // write and the stamp advance must be DETECTABLE — without it the
    // appended rows would serve under the old still-valid stamp and a
    // later buildIfAbsent over the pre-append corpus would bless them
    ArtifactMeta.journalGuard(spark, path, Journal, meta.stamp)
    // tombstone half of the ID CONTRACT (the [[graft.ops.Lexical.append]]
    // rule): a pending-delete id may not be re-appended until
    // [[applyDeletes]] — its old rows are still in the cells, so the
    // tombstone would mask the new rows while the stamp advanced.
    ArtifactMeta.requireNoPendingTombstones(batch, idCol, tombDir(path),
      "run applyDeletes first")
    val (bn, bfp) = ArtifactMeta.fingerprint(batch, Seq(idCol, embCol))
    val next = stampOf(meta, path).plus(bn, bfp).render
    ArtifactMeta.write(spark, path, Journal, next)
    val built = build(batch, idCol, embCol, meta.centroids, meta.codebooks)
      .cache()
    val batchCells = built.select("cell_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    // a root cell dir that exists but is NOT in base is a crashed
    // cleanup's leftover (its survivors live in an apply parent):
    // adopting it wholesale would duplicate them, so it dies BEFORE the
    // batch writes into that cell (invisible to probes, safe under the
    // lock)
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    meta.manifest.base.foreach { b =>
      batchCells.filterNot(b.contains).foreach { c =>
        val d = new org.apache.hadoop.fs.Path(path, s"cell_id=$c")
        if (fs.exists(d)) fs.delete(d, true)
      }
    }
    built.write.mode("append").partitionBy("cell_id").parquet(path)
    built.unpersist()
    // the manifest's base list grows by the batch's own cells (never a
    // root listing, which could re-adopt disowned dirs) in the same
    // meta write that advances the stamp
    val grownManifest = meta.manifest.copy(base = meta.manifest.base.map(b =>
      (b ++ batchCells).distinct.sorted))
    // stamp advances additively in O(batch); occupancy is re-read from the
    // grown layout (a partition-column-only scan — parquet answers it from
    // directory names + footer row counts, no data pages)
    writeMeta(conf, path, meta.copy(stamp = next,
      occupancy = Some(cellOccupancyOf(spark, path, grownManifest,
        meta.centroids.length)),
      manifest = grownManifest))
    ArtifactMeta.delete(spark, path, Journal)
    meta.centroids
  }

  /** Retract documents WITHOUT a rebuild — the delete path that keeps
    * "remove 0.1% of the corpus" from costing a full re-index. O(batch):
    * the batch's ids land as tombstones (probes exclude them via
    * [[load]]'s anti-join) and the stamp facts retreat additively
    * (fingerprints are sums, so subtraction is exact) — a later
    * [[buildIfAbsent]] over corpus ∖ batch validates against the index
    * instead of retraining. [[applyDeletes]] folds tombstones away
    * physically by rewriting only the affected cell partitions.
    *
    * ID CONTRACT (the [[graft.ops.Lexical.delete]] dual): the batch must
    * be exactly rows previously indexed — same ids, same embeddings.
    * Stamp-checked rebuilds catch drift after the fact. Stored per-cell
    * occupancy intentionally stays PHYSICAL (tombstoned rows are still
    * read by probes until applied), so the compaction skew trigger keeps
    * measuring real probe cost. */
  def delete(batch: DataFrame, idCol: String, embCol: String,
      path: String): Unit = ArtifactMeta.withBuildLock(batch, path) {
    val spark = batch.sparkSession
    val conf = hconf(batch)
    val meta = requireMeta(conf, path, "delete")
    ArtifactMeta.journalGuard(spark, path, Journal, meta.stamp)
    val (bn, bfp) = ArtifactMeta.fingerprint(batch, Seq(idCol, embCol))
    val next = stampOf(meta, path).plus(-bn, -bfp)
    require(next.count >= 0, s"delete batch exceeds index contents at " +
      s"$path (${next.count + bn} rows, $bn deleted) — id contract violated")
    ArtifactMeta.write(spark, path, Journal, next.render)
    batch.select(col(idCol).as("id")).distinct()
      .write.mode("append").parquet(tombDir(path))
    // legacy (pre-manifest) artifacts get their manifest PINNED here,
    // one maintenance cycle before any physical apply: probes then
    // resolve explicit dirs by the time applyDeletes first runs, so
    // even the migration apply has no silent-listing window
    val gated =
      if (meta.manifest.gated) meta.manifest
      else freshManifest(spark, path)
    writeMeta(conf, path, meta.copy(stamp = next.render, manifest = gated))
    ArtifactMeta.delete(spark, path, Journal)
  }

  /** Apply pending tombstones physically: rewrite ONLY the cell
    * partitions that contain deleted ids (never a full-index rewrite),
    * then clear the tombstone table. Returns true iff anything was
    * applied.
    *
    * MANIFEST-GATED ([[Lexical]]'s visibility contract, via
    * [[swapAffectedCells]]): survivors stage under an invisible
    * `_apply_<tag>` parent, one atomic stamp-file swap publishes the new
    * [[CellManifest]], and superseded dirs die only after — a
    * concurrent lock-free probe serves the complete old or complete new
    * state, or fails loudly in the documented transient class, never a
    * silently smaller candidate set (the adversarial apply-churn spec's
    * count-ladder pin). Crash anywhere leaves the OLD manifest serving
    * correct rows — cells only lose already-tombstoned rows and
    * [[load]]'s anti-join masks the same ids — plus invisible orphans
    * the next apply sweeps under the lock. Codes move with their rows,
    * so they still decode under the stored codebooks. */
  def applyDeletes(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = ArtifactMeta.withBuildLock(spark, path) {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = requireMeta(conf, path, "applyDeletes")
    ArtifactMeta.journalGuard(spark, path, Journal, meta.stamp)
    readTombstones(spark, path) match {
      case None => false
      case Some(tomb) =>
        // the published manifest comes back BY VALUE — re-reading the
        // meta here could, on a transient misread, fall back to the
        // pre-swap manifest and republish paths the cleanup just
        // deleted, bricking every later probe
        val published = swapAffectedCells(spark, path, tomb, meta.manifest,
          publish = m => writeMeta(conf, path, meta.copy(manifest = m)))
          .getOrElse(meta.manifest)
        val tombPath = new org.apache.hadoop.fs.Path(tombDir(path))
        tombPath.getFileSystem(conf).delete(tombPath, true)
        writeMeta(conf, path, meta.copy(manifest = published,
          occupancy = Some(cellOccupancyOf(spark, path, published,
            meta.centroids.length))))
        true
    }
  }

  /** The cell-partition swap of [[applyDeletes]] — MANIFEST-GATED
    * ([[Lexical]]'s visibility contract on the `cell_id=` layout):
    * rewrite ONLY the partitions containing
    * tombstoned ids, staged under an invisible `_apply_<tag>` parent,
    * published by ONE atomic meta swap (`publish` writes the caller's
    * stamp file with the new [[CellManifest]]), and only THEN are the
    * superseded directories deleted. A concurrent lock-free probe
    * resolves the complete old set or the complete new set; a probe that
    * raced the post-swap deletes fails loudly (FileNotFound-family, the
    * documented transient) instead of silently missing a cell; a crash
    * anywhere leaves the OLD manifest serving correct rows (tombstones
    * still mask the dead ids) with only invisible orphans to sweep —
    * which the next apply does, under the lock. */
  private def swapAffectedCells(
      spark: org.apache.spark.sql.SparkSession, path: String,
      tomb: DataFrame, manifest0: CellManifest,
      publish: CellManifest => Unit): Option[CellManifest] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def cellsIn(dir: org.apache.hadoop.fs.Path) = listCellDirs(fs, dir)
    // materialize the base list (pre-manifest artifacts pin it here)
    val base0 = manifest0.base.getOrElse(cellsIn(hp))
    // sweep crash orphans: apply parents no manifest references, root
    // cell dirs the base list disowns (once gated), and cell dirs
    // INSIDE live parents that the parent's manifest entry disowns (a
    // crash between publish and cleanup leaves all three classes; every
    // one is invisible to probes by construction, so deleting under the
    // lock is safe)
    val liveTags = manifest0.parents.map(_._1).toSet
    // the pre-manifest apply protocol staged survivors at the SIBLING
    // path `<path>_apply` (outside the artifact dir, so the in-dir sweep
    // below never sees it); a crash from before that upgrade left it
    // orphaned forever — reap it here, once, under the lock
    fs.delete(new org.apache.hadoop.fs.Path(path + "_apply"), true)
    fs.listStatus(hp).toSeq.map(_.getPath).foreach { p =>
      val n = p.getName
      if (n.startsWith("_apply_") && !liveTags.contains(n.drop(7)))
        fs.delete(p, true)
      else if (manifest0.gated && n.startsWith("cell_id=") &&
          !base0.contains(n.drop(8).toInt))
        fs.delete(p, true)
    }
    manifest0.parents.foreach { case (t, cs) =>
      val pdir = new org.apache.hadoop.fs.Path(applyParentDir(path, t))
      cellsIn(pdir).filterNot(cs.contains).foreach(c =>
        fs.delete(new org.apache.hadoop.fs.Path(pdir, s"cell_id=$c"), true))
    }
    val live = resolveCellData(spark, path,
      CellManifest(Some(base0), manifest0.parents, manifest0.dataSchema))
    // the published manifest must keep declaring the data schema (or pin
    // it now, for pre-schema metas) — losing it would put later probes
    // back on footer inference, the exact surface the manifest closes
    val schema0 = manifest0.dataSchema.orElse(Some(live.schema))
    // affected cells: column-pruned semi join (reads id + partition
    // value only); bounded by nlist, so the collect is tiny
    val affected = live.join(broadcast(tomb), Seq("id"), "left_semi")
      .select("cell_id").distinct().collect().map(_.getInt(0)).toSet
    if (affected.isEmpty) None
    else {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val staging = new org.apache.hadoop.fs.Path(applyParentDir(path, tag))
      live.filter(col("cell_id").isin(affected.toSeq: _*))
        .join(broadcast(tomb), Seq("id"), "left_anti")
        .write.mode("overwrite").partitionBy("cell_id")
        .parquet(staging.toString)
      // a cell whose every row died has no staged dir — absence from
      // every manifest entry IS the rewrite for it
      val staged = cellsIn(staging)
      val keptParents = manifest0.parents
        .map { case (t, cs) => (t, cs.filterNot(affected)) }
        .filter(_._2.nonEmpty)
      val next = CellManifest(Some(base0.filterNot(affected)),
        if (staged.nonEmpty) keptParents :+ ((tag, staged)) else keptParents,
        schema0)
      publish(next) // the atomic visibility swap
      // superseded dirs die only AFTER the swap (old-manifest probes get
      // the loud transient, never a silent miss)
      affected.foreach { c =>
        if (base0.contains(c))
          fs.delete(new org.apache.hadoop.fs.Path(path, s"cell_id=$c"), true)
      }
      manifest0.parents.foreach { case (t, cs) =>
        val pdir = new org.apache.hadoop.fs.Path(applyParentDir(path, t))
        if (cs.forall(affected)) fs.delete(pdir, true)
        else cs.filter(affected).foreach(c =>
          fs.delete(new org.apache.hadoop.fs.Path(pdir, s"cell_id=$c"), true))
      }
      if (staged.isEmpty) fs.delete(staging, true)
      Some(next)
    }
  }

  /** Per-cell row counts of a persisted index, indexed by cell_id. Reads
    * only the partition column: answered from the directory layout and
    * parquet footer row counts, so it is metadata-cost even on a huge
    * index. */
  def cellOccupancy(spark: org.apache.spark.sql.SparkSession, path: String,
      nlist: Int): Array[Long] =
    cellOccupancyOf(spark, path,
      readHeaderManifest(spark.sparkContext.hadoopConfiguration, path), nlist)

  /** [[cellOccupancy]] against an explicit manifest (callers mid-meta-
    * write that know the layout better than the file does). */
  private[ops] def cellOccupancyOf(spark: org.apache.spark.sql.SparkSession,
      path: String, manifest: CellManifest, nlist: Int): Array[Long] = {
    val occ = new Array[Long](nlist)
    // raw read, NOT [[load]]: occupancy is deliberately PHYSICAL — probes
    // still scan tombstoned rows until applyDeletes, so the skew trigger
    // must count them (and the read keeps this metadata-only)
    resolveCellData(spark, path, manifest)
      .groupBy("cell_id").count().collect().foreach { r =>
      val c = r.getInt(0)
      if (c >= 0 && c < nlist) occ(c) = r.getLong(1)
    }
    occ
  }

  /** max/median occupancy over non-empty cells — the drift signal
    * [[compact]] triggers on (1.0 = perfectly balanced). */
  def occupancySkew(occ: Seq[Long]): Double = {
    val nz = occ.filter(_ > 0).sorted
    if (nz.isEmpty) 1.0
    else nz.last.toDouble / math.max(1L, nz(nz.length / 2)).toDouble
  }

  /** Rebalance a persisted index whose cell occupancy has drifted past
    * `maxSkew` — the maintenance op [[append]] needs: append reuses the
    * stored quantizers forever, so a drifting data distribution piles
    * new rows into a few hot cells (probe cost/recall degrade silently)
    * and ages the codebooks (ADC candidate quality degrades).
    *
    * The skew CHECK is metadata-only (occupancy rides in the stamp file,
    * maintained by build and every append); only when it trips does the
    * index pay a retrain (bounded driver sample, as always) of the
    * centroids AND, on an artifact with codes, the codebooks, plus a full
    * rewrite ([[rewrite]]). Returns true iff a rewrite happened. After
    * compaction the stamp carries the corpus fingerprint, so a following
    * [[buildIfAbsent]] over the same corpus validates without
    * rebuilding. */
  def compact(corpus: DataFrame, idCol: String, embCol: String,
      path: String, maxSkew: Double = 4.0): Boolean =
      ArtifactMeta.withBuildLock(corpus, path) {
    val meta = requireMeta(hconf(corpus), path, "compact")
    ArtifactMeta.journalGuard(corpus.sparkSession, path, Journal, meta.stamp)
    val stamp = stampOf(meta, path)
    // old artifacts without stored occupancy: one partition-column scan
    val occ = meta.occupancy.getOrElse(cellOccupancyOf(corpus.sparkSession,
      path, meta.manifest, stamp.nlist))
    if (occupancySkew(occ.toSeq) <= maxSkew) false
    else {
      val (n, fp) = ArtifactMeta.fingerprint(corpus, Seq(idCol, embCol))
      rewrite(corpus, idCol, embCol, path, stamp.copy(count = n, fp = fp))
      true
    }
  }

  /** The validity stamp, rendered `count:nlist:sampleFraction:refineIters
    * :fp<sum>` — or, on an artifact with codes,
    * `count:nlist:sampleFraction:refineIters:m:ksub:fp<sum>`. `count` and
    * the (id, embedding) fingerprint `fp` move additively with append and
    * delete; the config between them round-trips verbatim. */
  private final case class Stamp(count: Long, nlist: Int,
      sampleFraction: Double, refineIters: Int, pq: Option[(Int, Int)],
      fp: BigInt) {
    def render: String =
      s"$count:$nlist:$sampleFraction:$refineIters" +
        pq.fold("") { case (m, ksub) => s":$m:$ksub" } + s":fp$fp"
    def plus(n: Long, dfp: BigInt): Stamp =
      copy(count = count + n, fp = fp + dfp)
  }

  private object Stamp {
    def parse(s: String): Option[Stamp] = s.split(":") match {
      case Array(n, nlist, sf, ri, fp) if fp.startsWith("fp") =>
        Some(Stamp(n.toLong, nlist.toInt, sf.toDouble, ri.toInt, None,
          BigInt(fp.drop(2))))
      case Array(n, nlist, sf, ri, m, ksub, fp) if fp.startsWith("fp") =>
        Some(Stamp(n.toLong, nlist.toInt, sf.toDouble, ri.toInt,
          Some((m.toInt, ksub.toInt)), BigInt(fp.drop(2))))
      case _ => None
    }
  }

  private def stampOf(meta: Meta, path: String): Stamp =
    Stamp.parse(meta.stamp).getOrElse(throw new IllegalStateException(
      s"IVF index at $path predates refinement-aware stamps — " +
        s"delete it (or its $MetaName) and rebuild"))

  /** Parsed `_ivf_centroids` content: validity stamp, per-cell occupancy
    * (absent on pre-compaction artifacts), cell manifest (ungated until
    * the first physical apply), centroid matrix, and — on an artifact
    * with codes — the PQ codebooks `[subspace][code][subdim]`. */
  private[graft] case class Meta(stamp: String, occupancy: Option[Array[Long]],
      centroids: Array[Array[Float]],
      manifest: CellManifest = CellManifest.Ungated,
      codebooks: Option[Array[Array[Array[Float]]]] = None)

  private def hconf(df: DataFrame) =
    df.sparkSession.sparkContext.hadoopConfiguration

  /** The one location of an artifact's meta file: every meta read and
    * write, header-only or whole, goes through it. */
  private def metaFile(conf: org.apache.hadoop.conf.Configuration,
      path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val metaPath = new org.apache.hadoop.fs.Path(path, MetaName)
    (metaPath.getFileSystem(conf), metaPath)
  }

  /** Parse the lines of an `_ivf_centroids` file: stamp line, optional
    * `occ:` line, manifest lines, the `nlist` centroid rows, then — when
    * the stamp names m/ksub — the m×ksub codebook rows (j-major). Exposed
    * so an oracle exporter can read a persisted index's matrices straight
    * off disk (the oracle map must be a pure function of on-disk state,
    * not of JVM history). */
  private[graft] def parseMetaLines(lines: Seq[String]): Option[Meta] =
    lines.headOption.flatMap { stamp =>
      val (occ, rest0) = lines.tail match {
        case o +: rest if o.startsWith("occ:") =>
          (Some(o.drop(4).split(",").filter(_.nonEmpty).map(_.toLong)), rest)
        case rest => (None, rest)
      }
      val (manifest, matrixLines) = CellManifest.parse(rest0)
      val rows = matrixLines.map(_.split(",").map(_.toFloat)).toArray
      Stamp.parse(stamp).flatMap(_.pq) match {
        case None => Some(Meta(stamp, occ, rows, manifest))
        case Some((m, ksub)) =>
          val nlist = rows.length - m * ksub
          if (nlist < 1) None
          else Some(Meta(stamp, occ, rows.take(nlist), manifest,
            Some(Array.tabulate(m)(j =>
              Array.tabulate(ksub)(c => rows(nlist + j * ksub + c))))))
      }
    }

  /** [[parseMetaLines]]'s inverse. */
  private def renderMeta(meta: Meta): String =
    (meta.stamp +:
      (meta.occupancy.map("occ:" + _.mkString(",")).toSeq ++
        CellManifest.render(meta.manifest) ++
        meta.centroids.toSeq.map(_.mkString(",")) ++
        meta.codebooks.toSeq.flatMap(_.toSeq.flatten).map(_.mkString(","))))
      .mkString("", "\n", "\n")

  /** A persisted index's whole meta straight off its stamp file — the
    * serving read for a caller that maintains freshness EXTERNALLY (the
    * engine's version watermark): no corpus scan, no stamp
    * re-validation, no lock. None when no index exists. */
  private[graft] def metaAt(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Meta] =
    readMeta(spark.sparkContext.hadoopConfiguration, path)

  /** Centroids of a persisted index off its stamp file ([[metaAt]]). */
  private[graft] def readCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Array[Array[Float]]] =
    metaAt(spark, path).map(_.centroids).filter(_.nonEmpty)

  /** Per-cell occupancy straight off the stamp file's `occ:` line —
    * [[metaAt]]'s contract for the drift signal: driver-side metadata,
    * NO Spark job (build, append, and apply all refresh the stored
    * occupancy). None when no artifact exists or a pre-occupancy
    * artifact never recorded it. */
  private[graft] def readOccupancy(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Array[Long]] =
    metaAt(spark, path).flatMap(_.occupancy)

  private def readMeta(conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[Meta] = {
    val (fs, metaPath) = metaFile(conf, path)
    if (!fs.exists(metaPath)) return None
    val in = fs.open(metaPath)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
      finally in.close()
    parseMetaLines(lines)
  }

  private def requireMeta(conf: org.apache.hadoop.conf.Configuration,
      path: String, op: String): Meta =
    readMeta(conf, path).getOrElse(throw new IllegalStateException(
      s"no IVF index at $path — run buildIfAbsent before $op"))

  /** Meta writes are ATOMIC (temp + rename): the stamp file doubles as
    * the cell manifest, so a reader racing a swap must see the complete
    * old or complete new content, never a torn file. Every write mints a
    * fresh generation nonce ([[newGen]]) — minted HERE, not at call
    * sites, so no maintenance path can forget to bump it; [[stableRead]]
    * relies on "any meta write changes gen". */
  private def writeMeta(conf: org.apache.hadoop.conf.Configuration,
      path: String, meta: Meta): Unit = {
    val (fs, metaPath) = metaFile(conf, path)
    ArtifactMeta.writeAtomicFs(fs, metaPath, renderMeta(
      meta.copy(manifest = meta.manifest.copy(gen = newGen()))))
  }

  /** Probe order of cells for a query vector (driver-side, nlist small).
    * Same DOUBLE distance arithmetic and smaller-id tie contract as the
    * [[graft.functions.VectorKernels.nearestCells]] kernel, so the static
    * and in-plan probe paths rank identically and both replay in an
    * external oracle. */
  def probeCells(centroids: Array[Array[Float]], query: Array[Float],
      nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (ctr, i) =>
      var d = 0.0; var j = 0
      val n = math.min(ctr.length, query.length)
      while (j < n) { val t = query(j).toDouble - ctr(j); d += t * t; j += 1 }
      (i, d)
    }.sortBy(_._2).take(nprobe).map(_._1).toSeq

  /** ANN top-k: scan only the probed cells, exact cosine re-rank. Emits
    * (id, cell_id, score) — the cell is free to carry and makes the
    * deterministic re-rank replayable by an external oracle given the
    * centroid matrix. Scores use the cross-engine floor-form rounding
    * ([[graft.functions.GraftFunctions.round4]]).
    *
    * `allowed` is a candidate MASK (one `id` column): when present, only
    * probed-cell rows whose id survives the mask are scored — the
    * filter-as-mask convention ([[Lexical.searchBm25]]'s `allowedIds` on
    * the vector family). The semi-join runs INSIDE the cell-pruned scan,
    * so cost stays O(probed cells); scores are unchanged by the mask (a
    * doc scores the same filtered or not). No broadcast hint: the mask's
    * size is the filter's selectivity, unknowable here — AQE downgrades
    * the shuffle join to broadcast when the mask turns out small. */
  def search(index: DataFrame, centroids: Array[Array[Float]],
      query: Array[Float], k: Int, nprobe: Int,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None): DataFrame = {
    val cells = probeCells(centroids, query, nprobe)
    val probed = index.filter(col("cell_id").isin(cells: _*))
    val cand = allowed.fold(probed)(m =>
      probed.join(m.select(col("id")), Seq("id"), "left_semi"))
    // rawFloor cuts on the RAW cosine BEFORE rounding and before the
    // top-k (the serving front doors' brute-arm parity: a raw score in
    // [floor−ε, floor) must not round up past the cut)
    val scored = cand
      .withColumn("_raw", vecCosine(col("embedding"), lit(query)))
    rawFloor.fold(scored)(f => scored.filter(col("_raw") >= f))
      .withColumn("score", round4(col("_raw")))
      .orderBy(desc("score"), col("id"))
      .limit(k)
      .select(col("id"), col("cell_id"), col("score"))
  }

  /** ANN top-k with the query vector kept IN the plan (no driver action):
    * the probe-cell choice is computed from a broadcast of the tiny centroid
    * table, and the query joins the index as a broadcast literal — the
    * declarative twin of [[search]] for queries that arrive as a DataFrame.
    * Over a [[load]]-ed partitioned index the cell join is eligible for
    * dynamic partition pruning; [[search]]'s literal filter is the
    * statically-pruned path. */
  def searchDf(index: DataFrame, centroids: Array[Array[Float]],
      queryDf: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val q = queryDf.select(col(queryDf.columns.head).as("q"))
    // single-query contract: with >1 rows the pooled cell limit and the
    // unkeyed top-k would silently mix queries — refuse instead
    require(q.limit(2).count() == 1,
      "searchDf expects exactly one query row; for query batches use " +
        "Similarity.bruteForceTopKBatch or call searchDf per query")
    // probe cells as ONE narrow projection of the query row — the centroid
    // matrix rides into codegen as a plan constant (nearestCells), so there
    // is no centroid join and no rank shuffle
    val cells = q.select(explode(nearestCells(col("q"), centroids, nprobe))
      .as("cell_id"))
    index.join(broadcast(cells), Seq("cell_id"))
      .crossJoin(broadcast(q))
      .withColumn("score", round4(vecCosine(col("embedding"), col("q"))))
      .orderBy(desc("score"), col("id"))
      .limit(k)
      .select(col("id"), col("cell_id"), col("score"))
  }

  /** Batch ANN: top-k per query over each query's own probed cells — the
    * serving shape of a pipeline's ANN workload (thousands of queries, one
    * pass), where per-query [[searchDf]] calls would re-plan and re-scan
    * the index once per query.
    *
    * Shape: queries × centroids ranks probe cells per query (a broadcast
    * nested-loop over Q×nlist rows — both sides tiny), then the
    * (query_id, qv, cell_id) probe set BROADCASTS into one scan of the
    * index: a query's candidates are exactly the rows of its probed cells,
    * scored with exact cosine inside the scan stage, and reduced to k rows
    * per query per partition by the bounded-heap
    * [[graft.functions.TopKAggregator]] BEFORE the only shuffle (which
    * carries ≤ Q×k×partitions rows). No per-query jobs, no corpus shuffle,
    * no cartesian against the corpus. The probe set carries each query
    * vector `nprobe` times (Q × nprobe × dim floats broadcast), so the
    * broadcast grows with the batch: above `maxBatch` queries the operator
    * RANGE-SPLITS the batch itself — hash-partitions the query ids into
    * ⌈Q/maxBatch⌉ slices, runs the same probe join per slice, and unions —
    * bounding each broadcast at ~maxBatch query vectors while every slice
    * still reads only its own probed cells. (Per-query results are
    * independent, so the union is exactly the unsplit result.) Sizing the
    * split costs a bounded `limit(maxBatch+1).count()` probe, and a full
    * count only when it actually overflows.
    *
    * `queries` columns: (queryIdCol: castable to long, qvCol: array of
    * float). Returns (query_id, id, score), unordered (top-k set per
    * query; order downstream).
    *
    * `allowed` is a candidate MASK (one `id` column, [[search]]'s
    * convention): one semi-join restricts the scanned index rows for
    * EVERY query in the batch — per-query results are the top-k among
    * filter survivors of that query's probed cells. THIS entry point is
    * single-pass approximate (a pipeline that consumes whatever fills);
    * the exact-fill contract — min(k, matching survivors) rows per
    * query — is [[searchBatchFill]]'s per-query widening ladder on top
    * of it. */
  def searchBatch(index: DataFrame, centroids: Array[Array[Float]],
      queries: DataFrame, queryIdCol: String, qvCol: String,
      k: Int, nprobe: Int, maxBatch: Int = 8192,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None): DataFrame = {
    val idx = allowed.fold(index)(m =>
      index.join(m.select(col("id")), Seq("id"), "left_semi"))
    val q = queries.select(col(queryIdCol).cast("long").as("query_id"),
      col(qvCol).as("qv"))
    // size guard on the id column only: the bound check must not pay a
    // scan of the (wide) query vectors
    val ids = q.select("query_id")
    if (ids.limit(maxBatch + 1).count() <= maxBatch)
      searchBatchSlice(idx, centroids, q, k, nprobe, rawFloor)
    else {
      val slices = ((ids.count() - 1) / maxBatch + 1).toInt
      // hash-sliced: ~maxBatch queries per slice in expectation (ids are
      // opaque, so uniform xxhash64 beats assuming a dense id range)
      (0 until slices).map { i =>
        searchBatchSlice(idx, centroids,
          q.filter(pmod(xxhash64(col("query_id")), lit(slices)) === i),
          k, nprobe, rawFloor)
      }.reduce(_.unionAll(_))
    }
  }

  /** [[searchBatch]] with the exact-fill contract — the single-query
    * widening ladder ([[graft.memo.MemoEngine]]'s `widenToFill`) lifted
    * to QUERY-ID SETS: run the batch at `nprobe`; queries that filled k
    * keep their one-pass cost and their rows are FINAL (wider probes of
    * a filled query could only re-rank rows it already ranked among —
    * scores are exact cosines, so its top-k is already correct for the
    * probed set and a pipeline consuming fills never waits on the
    * stragglers' rungs); only the STARVED query ids (< k rows — a
    * selective mask can empty a query's probed cells) re-run at doubled
    * nprobe, and the doubling makes total work a geometric series
    * bounded by ~2× the final pass over the starved subset. At
    * nprobe = nlist a query's result IS its exact filtered ranking, so
    * the returned frame has min(k, matching survivors) rows per query —
    * never a silently short list.
    *
    * Bounded bookkeeping, one job per rung: the rung's per-query fill
    * counts collect to the driver (≤ Q (query_id, n) pairs — the batch
    * is broadcast-scale BY CONSTRUCTION, [[searchBatch]] ships every
    * query vector to every probed-cell task, so an id list is strictly
    * smaller than what the operator already broadcasts), and the
    * starved ids re-enter the plan as a broadcast literal frame. The
    * mask semi-join and the slice-size guard are hoisted OUT of the
    * ladder (one masked-index frame reused by every rung's plan; the
    * guard count runs once, not per rung). Each rung's result is
    * cached — its fill-count job materializes it — and `finish` consumes
    * the union while the rungs are cached; the ladder releases them
    * before it returns. The default `finish` collects the union into a
    * frame over local rows (≤ k rows per query by construction), so the
    * driver holds up to k × |queries| rows: slice a very large query set
    * into batches, or pass a `finish` that writes the union out.
    *
    * Returns (finished frame, (final nprobe, widening rungs)) — the
    * probe telemetry the serving layer's seams and oracle builds assert
    * on. Rungs = 0 means every query filled in one pass. */
  def searchBatchFill(index: DataFrame, centroids: Array[Array[Float]],
      queries: DataFrame, queryIdCol: String, qvCol: String,
      k: Int, nprobe: Int, maxBatch: Int = 8192,
      allowed: Option[DataFrame] = None,
      rawFloor: Option[Double] = None,
      finish: DataFrame => DataFrame = collectLocal)
      : (DataFrame, (Int, Int)) = {
    val idx = allowed.fold(index)(m =>
      index.join(m.select(col("id")), Seq("id"), "left_semi"))
    fillLadder(queries, queryIdCol, qvCol, k, nprobe, centroids.length,
      maxBatch, finish) { (qf, np, small) =>
      if (small) searchBatchSlice(idx, centroids, qf, k, np, rawFloor)
      else searchBatch(idx, centroids, qf, "query_id", "qv", k, np,
        maxBatch, rawFloor = rawFloor)
    }
  }

  /** The per-query-id widening ladder itself, family-agnostic — the
    * machinery [[searchBatchFill]] documents, shared with the
    * compressed family ([[PqIndex.searchBatchFillIvfPq]]). `pass(qf,
    * np, small)` runs one rung over the query subset `qf` (already
    * projected to (query_id, qv)) at probe width `np`; `small` says the
    * WHOLE batch fit under `maxBatch` (one id collect, paid once here,
    * never per rung), so the pass may skip its own slice guard. The
    * pass's output must carry a `query_id` column with ≤ k rows per
    * query.
    *
    * Every rung the ladder caches (a widening rung's fill-count job
    * materializes it; the FINAL full-probe rung skips that job and
    * materializes inside `finish`) is released in a `finally` once
    * `finish` has consumed the union, so `finish` must return a frame
    * that no longer reads the rungs — a collected one. Nothing stays
    * pinned past the call. */
  private[ops] def fillLadder(queries: DataFrame, queryIdCol: String,
      qvCol: String, k: Int, nprobe: Int, nlist: Int, maxBatch: Int,
      finish: DataFrame => DataFrame)(
      pass: (DataFrame, Int, Boolean) => DataFrame)
      : (DataFrame, (Int, Int)) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = queries.select(col(queryIdCol).cast("long").as("query_id"),
      col(qvCol).as("qv"))
    // ONE id collect sizes the batch (the per-rung guard a raw batch
    // call would re-pay) and seeds the starved bookkeeping
    val allIds = q.select("query_id").collect().map(_.getLong(0))
    val small = allIds.length <= maxBatch
    // per-query fill counts: one collect materializes the rung's cache
    def fills(p: DataFrame): Map[Long, Long] =
      p.groupBy("query_id").agg(count(lit(1)).as("_n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    var np = math.min(math.max(nprobe, 1), nlist)
    var rungs = 0
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    def rung(qf: DataFrame): DataFrame = {
      val r = pass(qf, np, small).cache()
      cached += r
      r
    }
    try {
      var cur = rung(q)
      // a rung at FULL probe can never widen further, so its per-query
      // fill-count job would decide NOTHING — skip it and let `finish`
      // materialize the rung. This cuts one job from every ladder that
      // reaches the full probe — and from the selective-filter fast
      // path, which STARTS there.
      if (np >= nlist) return (finish(cur), (np, 0))
      var cnt = fills(cur)
      // zero-hit queries never reach the pass output — starved derives
      // from the id set, not from the counts
      var starved = allIds.filter(id => cnt.getOrElse(id, 0L) < k)
      val parts = scala.collection.mutable.Buffer.empty[DataFrame]
      while (starved.nonEmpty && np < nlist) {
        val sdf = broadcast(
          spark.createDataset(starved.toSeq).toDF("query_id"))
        parts += cur.join(sdf, Seq("query_id"), "left_anti")
        np = math.min(np * 2, nlist)
        rungs += 1
        cur = rung(q.join(sdf, Seq("query_id"), "left_semi"))
        if (np < nlist) {
          cnt = fills(cur)
          starved = starved.filter(id => cnt.getOrElse(id, 0L) < k)
        } else starved = Array.empty[Long] // full probe: the rung is final
      }
      parts += cur // final rung: filled, or exact at full probe
      (finish(parts.reduce(_.unionAll(_))), (np, rungs))
    } finally cached.foreach(_.unpersist())
  }

  /** Driver-side rows as a DataFrame over a local relation (a
    * `LocalRelation`): what a serving door returns once its bounded
    * tail ran on the driver. */
  private[graft] def localFrame(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** `df` collected into a frame over local rows ([[localFrame]]):
    * [[fillLadder]]'s default `finish`, and how the engine's batch doors
    * return their bounded answers. */
  private[graft] def collectLocal(df: DataFrame): DataFrame =
    localFrame(df.sparkSession, df.collect().toSeq, df.schema)

  /** One bounded slice of [[searchBatch]] (queries already projected to
    * (query_id, qv)). */
  private def searchBatchSlice(index: DataFrame,
      centroids: Array[Array[Float]], q: DataFrame,
      k: Int, nprobe: Int, rawFloor: Option[Double] = None): DataFrame = {
    // per-query probe cells as one narrow projection (nearestCells keeps
    // the centroid matrix a codegen plan constant) — no centroid join, no
    // per-query rank window, no shuffle before the probe-set broadcast
    val probes = q.select(col("query_id"), col("qv"),
      explode(nearestCells(col("qv"), centroids, nprobe)).as("cell_id"))
    val scored0 = index.join(broadcast(probes), Seq("cell_id"))
      .withColumn("_raw", vecCosine(col("embedding"), col("qv")))
    // floor on the RAW cosine before rounding/top-k (see [[search]])
    graft.functions.TopKAgg.perQuery(
      rawFloor.fold(scored0)(f => scored0.filter(col("_raw") >= f))
        .withColumn("score", round4(col("_raw"))),
      "query_id", col("id").cast("long"), col("score"), k, outId = "id")
  }

  /** Recall@k of IVF against exact brute force for one query (the
    * quality-vs-cost diagnostic a tuning loop would monitor). */
  def recallAtK(corpus: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Float]], query: Array[Float], k: Int,
      nprobe: Int): Double = {
    val exact = corpus
      .withColumn("score", vecCosine(col(embCol), lit(query)))
      .orderBy(desc("score"), col(idCol))
      .limit(k).select(col(idCol)).collect().map(_.getLong(0)).toSet
    val approx = search(build(corpus, idCol, embCol, centroids),
      centroids, query, k, nprobe)
      .collect().map(_.getLong(0)).toSet
    exact.intersect(approx).size.toDouble / k
  }
}
