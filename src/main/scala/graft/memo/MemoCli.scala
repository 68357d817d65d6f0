package graft.memo

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.filter.FilterAlgebra

/** CLI façade mirroring the reference's command surface and stdout contract
  * (/root/reference/SKILL.md:96-151, memo_cli.py:727-949):
  *
  *   memo-cli -f <base> save <file.yaml>
  *   memo-cli -f <base> recall [-k N] [--filter EXPR] [--yaml] [--ann|--pq|--serve [--nprobe N]] [--hybrid] <query...>
  *   memo-cli -f <base> analyze --filter EXPR [--fields a,b] [--stats KEY]
  *                      [--limit N] [--offset N]
  *   memo-cli -f <base> clean
  *   memo-cli -f <base> reindex
  *
  * Only result text goes to stdout; Spark logging stays on stderr.
  */
object MemoCli {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try System.exit(run(spark, args.toList))
    finally spark.stop()
  }

  /** Dispatch contract mirrors memo_cli.py:880-949: no positional or a
    * leading help word → usage on stdout, exit 0; missing -f → error +
    * usage, exit 1; arity errors and unknown commands → exit 1. */
  def run(spark: SparkSession, args: List[String]): Int = {
    parseGlobal(args) match {
      case Left(rc) => rc
      case Right((baseOpt, verbose, rest)) =>
        if (rest.isEmpty || rest.head == "--help" || rest.head == "help") {
          printHelp(); return 0
        }
        if (baseOpt.isEmpty) {
          System.err.println("Error: -f <base> is required")
          printHelp()
          return 1
        }
        val engine = new MemoEngine(spark, baseOpt.get)
        try rest match {
          case "clean" :: extra =>
            if (extra.nonEmpty) {
              System.err.println("Error: clean does not accept extra arguments")
              1
            } else cmdClean(engine, baseOpt.get)
          case "reindex" :: extra =>
            if (extra.nonEmpty) {
              System.err.println("Error: reindex does not accept extra arguments")
              1
            } else cmdReindex(engine, baseOpt.get, verbose)
          case "cluster" :: clusterArgs =>
            clusterArgs match {
              case key :: rest if rest.length <= 1 &&
                  rest.forall(_.toIntOption.exists(n => n >= 2 && n <= 256)) =>
                cmdCluster(engine, baseOpt.get, key,
                  rest.headOption.map(_.toInt), verbose)
              case _ =>
                System.err.println(
                  "Error: cluster requires <key> [nClusters in 2..256]")
                1
            }
          case "save" :: saveArgs =>
            if (saveArgs.length != 1) {
              System.err.println("Error: save requires exactly one <yaml_file>")
              1
            } else cmdSave(engine, saveArgs.head, verbose)
          case "import" :: importArgs =>
            if (importArgs.length != 1) {
              System.err.println("Error: import requires exactly one <yaml_path>")
              1
            } else cmdImport(engine, importArgs.head, verbose)
          case "export" :: exportArgs =>
            if (exportArgs.length != 1) {
              System.err.println("Error: export requires exactly one <out_dir>")
              1
            } else cmdExport(engine, exportArgs.head, verbose)
          case "maintain" :: maintainArgs =>
            maintainArgs match {
              case opts if opts.forall(a => a == "--compact" ||
                    a.toDoubleOption.exists(_ >= 1.0)) &&
                  opts.count(_ != "--compact") <= 1 =>
                cmdMaintain(engine, baseOpt.get,
                  opts.find(_ != "--compact").map(_.toDouble),
                  opts.contains("--compact"))
              case _ =>
                System.err.println(
                  "Error: maintain takes [retrainSkew >= 1.0] [--compact]")
                1
            }
          case "retrain" :: retrainArgs =>
            retrainArgs match {
              case opts if opts.forall(_.toDoubleOption.exists(_ >= 1.0)) &&
                  opts.size <= 1 =>
                cmdRetrain(engine, baseOpt.get,
                  opts.headOption.map(_.toDouble).getOrElse(4.0))
              case _ =>
                System.err.println("Error: retrain takes [maxSkew >= 1.0]")
                1
            }
          case "dups" :: dupsArgs =>
            dupsArgs match {
              case opts if opts.length <= 1 && opts.forall(
                    _.toDoubleOption.exists(j => j > 0.0 && j <= 1.0)) =>
                cmdDups(engine, baseOpt.get,
                  opts.headOption.map(_.toDouble).getOrElse(0.8))
              case _ =>
                System.err.println(
                  "Error: dups takes [minJaccard in (0, 1]]")
                1
            }
          case "dedup" :: dedupArgs =>
            dedupArgs match {
              case opts if opts.length <= 1 && opts.forall(
                    _.toDoubleOption.exists(j => j > 0.0 && j <= 1.0)) =>
                cmdDedup(engine, baseOpt.get,
                  opts.headOption.map(_.toDouble).getOrElse(0.8))
              case _ =>
                System.err.println(
                  "Error: dedup takes [minJaccard in (0, 1]]")
                1
            }
          case "recall" :: recallArgs => cmdRecall(engine, recallArgs)
          case "analyze" :: analyzeArgs => cmdAnalyze(engine, analyzeArgs)
          case other :: _ =>
            System.err.println(s"Error: unknown command '$other'")
            printHelp()
            1
          case Nil => 1 // unreachable: rest.isEmpty handled above
        } catch {
          case e: IllegalArgumentException =>
            System.err.println(s"Error: ${e.getMessage}")
            1
        }
    }
  }

  /** Usage text (reference print_help, memo_cli.py:695-724 — same command
    * surface; store is one base directory instead of a .memo/.yaml pair). */
  private def printHelp(): Unit = {
    println("Usage:")
    println("  memo --help")
    println("  memo -f <base> [-v] save <yaml_file>")
    println("  memo -f <base> [-v] recall [-k <N>] [--filter <expr>] [--yaml] [--ann|--pq|--serve [--nprobe <N>]] [--hybrid] <query>")
    println("  memo -f <base> [-v] analyze --filter <expr> [--fields <list>] " +
      "[--stats <key>] [--limit <N>] [--offset <N>]")
    println("  memo -f <base> [-v] clean")
    println("  memo -f <base> [-v] reindex")
    println()
    println("Commands:")
    println("  save                Insert/update memory records from YAML input file")
    println("  recall              Semantic recall from the <base> store")
    println("  analyze             Metadata-only reporting from the <base> store")
    println("  clean               Remove the <base> store")
    println("  reindex             Rebuild the index from records (full regenerate)")
    println("  import              Replace the store from a full-DB YAML/JSONL file or dir (migration)")
    println("  export              Write the store as sharded full-DB YAML/JSONL (migration)")
    println("  cluster             Re-layout records by metadata key(s) <key[,key2,..]> [nClusters] (filtered reads prune; multi-key = Z-order)")
    println("  retrain             Rebalance the maintained ANN index (centroids and PQ codebooks) if cell occupancy drifted past [maxSkew] (default 4.0)")
    println("  dups                Print the maintained transitive duplicate groups ([minJaccard] default 0.8): one 'component: id id ...' line per group")
    println("  dedup               Keep-one-per-duplicate-group compaction ([minJaccard] default 0.8): reindex that also drops non-representative group members")
    println("  maintain            Bring every maintained artifact current (postings/ANN/signatures/views); [retrainSkew] also retrains drifted quantizers; --compact re-grids fragmented view state")
    println()
    println("Options:")
    println("  -f <base>           REQUIRED DB base directory")
    println("  -v                 Verbose logs to stderr")
    println("  <yaml_file>        YAML file for save input (single or multi-doc using ---)")
    println("  --filter <expr>    Filter recall results by metadata")
    println("  --yaml             recall only: emit YAML results with id, score, body")
    println("  --ann | --pq       recall only: serve from the maintained IVF / IVF-PQ artifact")
    println("  --serve            recall only: route brute/IVF/PQ by the store's stats sidecars")
    println("  --hybrid           recall only: BM25+semantic reciprocal-rank fusion (with --ann/--serve)")
    println("  --nprobe <N>       with --ann/--pq/--serve: probe cells (widened to fill under --filter)")
    println("  --fields <list>    analyze only: comma-separated columns (e.g. id,source,metadata)")
    println("  --stats <key>      analyze only: cardinality + numeric/date-like range for key")
    println("  --limit <N>        analyze only: max rows to print (default: 100)")
    println("  --offset <N>       analyze only: rows to skip before printing (default: 0)")
    println("  --help             Show this help")
  }

  /** Verbose diagnostics to stderr — stdout stays result-only
    * (memo_cli.py:38-40, SKILL.md "Output contract"). */
  def vlog(enabled: Boolean, msg: String): Unit =
    if (enabled) System.err.println(msg)

  /** Global flags scan: `-f <base>` and `-v` anywhere before/between
    * positionals (memo_cli.py:727-757). Left(rc) on malformed -f. */
  private def parseGlobal(
      args: List[String]): Either[Int, (Option[String], Boolean, List[String])] = {
    var base: Option[String] = None
    var verbose = false
    val positional = List.newBuilder[String]
    var it = args
    while (it.nonEmpty) it match {
      case "-v" :: rest => verbose = true; it = rest
      case "-f" :: Nil =>
        System.err.println("Error: -f requires a value")
        return Left(1)
      case "-f" :: b :: rest =>
        if (b.trim.isEmpty) {
          System.err.println("Error: -f requires a non-empty value")
          return Left(1)
        }
        base = Some(b); it = rest
      case a :: rest => positional += a; it = rest
      case Nil => ()
    }
    Right((base, verbose, positional.result()))
  }

  /** Save inputs at or above this size skip the driver String entirely and
    * go through the distributed file parse ([[MemoEngine.saveFromPath]]). */
  val BulkSaveBytes: Long = 8L << 20

  private def cmdSave(engine: MemoEngine, file: String, verbose: Boolean): Int = {
    val p = Paths.get(file)
    if (!Files.exists(p)) {
      System.err.println(s"Error: failed to read input file '$file'")
      return 1
    }
    if (Files.size(p) >= BulkSaveBytes) {
      var n = 0L
      engine.saveFromPath(p.toString).foreach { case (id, body) =>
        println(s"Memorized: '$body' (ID: $id)")
        n += 1
      }
      vlog(verbose, s"Indexed $n records incrementally")
      return 0
    }
    val saved = engine.save(Files.readString(p))
    vlog(verbose, s"Indexed ${saved.size} records incrementally")
    saved.foreach { case (id, body) =>
      println(s"Memorized: '$body' (ID: $id)") // full body (memo_cli.py:430)
    }
    0
  }

  /** Migration verbs (extensions — the reference's store IS its YAML file,
    * memo_cli.py:47-58, so switching to this engine means one import; both
    * run the DISTRIBUTED interchange path, no corpus String on the driver).
    * Paths containing ".jsonl" route through the JSONL interchange. */
  private def isJsonl(path: String): Boolean = path.contains(".jsonl")

  private def cmdImport(engine: MemoEngine, path: String, verbose: Boolean): Int = {
    if (!Files.exists(Paths.get(path))) {
      System.err.println(s"Error: failed to read input file '$path'")
      return 1
    }
    if (isJsonl(path)) engine.importJsonlPath(path)
    else engine.importYamlPath(path)
    val n = engine.records.count()
    vlog(verbose, s"Imported $n records into the store")
    println(s"Imported $n records")
    0
  }

  private def cmdExport(engine: MemoEngine, path: String, verbose: Boolean): Int = {
    val n = engine.records.count()
    if (isJsonl(path)) engine.exportJsonlPath(path)
    else engine.exportYamlPath(path)
    vlog(verbose, s"Exported $n records to $path")
    println(s"Exported $n records")
    0
  }

  /** recall arg grammar (memo_cli.py:758-803): -k N (clamped), --filter,
    * --yaml; remaining words are the query, which must be non-empty.
    * Beyond the reference: `--ann [--nprobe N]` / `--pq` switch the
    * ranking to the engine-maintained IVF / IVF-PQ serving paths
    * (filter mask + widening fill included) — same output contract,
    * approximate ranking, the switch a store flips when it outgrows
    * the brute-force scan; `--serve` takes the filter-aware ROUTER
    * ([[MemoEngine.recallServe]]) instead of naming an arm — brute
    * under the sidecar row bound, IVF under the byte budget, PQ past
    * it — the front door a caller who doesn't know the store's size
    * should use. The three mode flags are mutually exclusive.
    * `--hybrid` reranks by reciprocal-rank fusion of the lexical
    * (BM25) and semantic lists ([[MemoEngine.hybridRecall]]); it
    * composes with `--ann` (IVF semantic leg) and with `--serve`
    * ([[MemoEngine.hybridServe]] — the routed semantic leg), but not
    * with `--pq` (naming the compressed arm by hand is what `--serve`
    * replaces; the router picks it when the byte budget says so). */
  private def cmdRecall(engine: MemoEngine, args: List[String]): Int = {
    var k = MemoOps.DefaultK
    var filter: Option[String] = None
    var yaml = false
    var mode = "exact"
    var hybrid = false
    var nprobe = 4
    var nprobeSet = false
    val queryParts = List.newBuilder[String]
    var it = args
    while (it.nonEmpty) it match {
      case "-k" :: rest =>
        val v = rest.headOption.flatMap(_.toIntOption)
        if (v.isEmpty) {
          System.err.println("Error: -k requires an integer")
          return 1
        }
        k = MemoOps.clampK(v.get); it = rest.tail
      case "--filter" :: Nil =>
        System.err.println("Error: --filter requires a filter expression")
        return 1
      case "--filter" :: f :: rest => filter = Some(f); it = rest
      case "--yaml" :: rest => yaml = true; it = rest
      case "--ann" :: rest =>
        if (mode != "exact" && mode != "ann") {
          System.err.println(
            "Error: --ann, --pq, and --serve are mutually exclusive")
          return 1
        }
        mode = "ann"; it = rest
      case "--pq" :: rest =>
        if (mode != "exact" && mode != "pq") {
          System.err.println(
            "Error: --ann, --pq, and --serve are mutually exclusive")
          return 1
        }
        mode = "pq"; it = rest
      case "--serve" :: rest =>
        if (mode != "exact" && mode != "serve") {
          System.err.println(
            "Error: --ann, --pq, and --serve are mutually exclusive")
          return 1
        }
        mode = "serve"; it = rest
      case "--hybrid" :: rest => hybrid = true; it = rest
      case "--nprobe" :: rest =>
        val v = rest.headOption.flatMap(_.toIntOption).filter(_ >= 1)
        if (v.isEmpty) {
          System.err.println("Error: --nprobe requires a positive integer")
          return 1
        }
        nprobe = v.get; nprobeSet = true; it = rest.tail
      case w :: rest => queryParts += w; it = rest
      case Nil => ()
    }
    // --nprobe only means something on a probe path; silently serving
    // the exact ranking would hide the typo (`--ann` forgotten), so the
    // combination errors like the mode mutual exclusion does
    if (nprobeSet && mode == "exact") {
      System.err.println("Error: --nprobe requires --ann, --pq, or --serve")
      return 1
    }
    if (hybrid && mode == "pq") {
      System.err.println(
        "Error: --hybrid composes with --ann or --serve, not --pq")
      return 1
    }
    val query = queryParts.result().mkString(" ").trim
    if (query.isEmpty) {
      System.err.println("Error: recall requires <query>")
      return 1
    }
    // banner precedes filter validation (memo_cli.py:471-486)
    if (!yaml) println(s"Top $k results:")
    filter.foreach { f =>
      try FilterAlgebra.parse(f)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"Error: invalid --filter expression: ${e.getMessage}")
          return 1
      }
    }
    val rows = (if (hybrid) {
      // hybrid frames carry (id, rrf_score, per-list ranks, body) —
      // project to the printer's (id, score, body) contract, the fused
      // score in the score slot
      (mode match {
        case "ann" => engine.hybridRecall(query, k, filter, ann = true,
          annNprobe = nprobe)
        case "serve" => engine.hybridServe(query, k, filter,
          nprobe = nprobe)
        case _ => engine.hybridRecall(query, k, filter)
      }).select(col("id"), col("rrf_score"), col("body"))
    } else mode match {
      case "ann" => engine.annRecall(query, k, nprobe, filter)
      case "pq" => engine.pqRecall(query, k, nprobe, filterExpr = filter)
      case "serve" => engine.recallServe(query, k, filter, nprobe)
      case _ => engine.recall(query, k, filter)
    }).collect()
    if (yaml) {
      if (rows.isEmpty) println("results: []")
      else {
        println("results:")
        rows.foreach { r =>
          println(s"- id: ${r.getLong(0)}")
          println(f"  score: ${r.getDouble(1)}%.4f")
          // literal block with PyYAML chomping: |- no trailing newline,
          // | exactly one, |+ several (safe_dump of LiteralString)
          val body = r.getString(2)
          val trailing = body.length - body.reverse.dropWhile(_ == '\n').length
          val chomp = if (trailing == 0) "-" else if (trailing == 1) "" else "+"
          println(s"  body: |$chomp")
          splitLines(body.substring(0, body.length - trailing))
            .foreach(ln => println(s"    $ln"))
          (1 until trailing).foreach(_ => println())
        }
      }
    } else {
      // banner already printed above (before filter validation)
      rows.foreach { r =>
        println(f"  [${r.getLong(0)}] Score: ${r.getDouble(1)}%.4f |")
        splitLines(r.getString(2)).foreach(ln => println(s"      $ln"))
      }
    }
    0
  }

  /** Python `text.splitlines() or [""]` (memo_cli.py:303): no element for
    * a single trailing newline, interior blanks kept, empty text → [""]. */
  private def splitLines(text: String): Seq[String] = {
    val parts = text.split("\n", -1).toSeq
    val trimmed = if (parts.nonEmpty && parts.last.isEmpty) parts.dropRight(1) else parts
    if (trimmed.isEmpty) Seq("") else trimmed
  }

  /** analyze arg grammar (memo_cli.py:805-880): --filter REQUIRED and
    * non-blank, --fields a,b,c (non-empty) / --stats KEY (non-blank) /
    * --limit >= 1 / --offset >= 0; unknown options error. All errors
    * mirror the reference's messages and exit 1. */
  private def cmdAnalyze(engine: MemoEngine, args: List[String]): Int = {
    var filter: Option[String] = None
    var fields: Seq[String] = Seq.empty
    var stats: Option[String] = None
    var limit = 100
    var offset = 0
    def err(msg: String): Int = { System.err.println(s"Error: $msg"); 1 }
    var it = args
    while (it.nonEmpty) it match {
      case "--filter" :: Nil =>
        return err("--filter requires a filter expression")
      case "--filter" :: f :: rest => filter = Some(f); it = rest
      case "--fields" :: Nil =>
        return err("--fields requires a comma-separated field list")
      case "--fields" :: f :: rest =>
        fields = f.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        if (fields.isEmpty) return err("--fields requires at least one field")
        it = rest
      case "--stats" :: Nil => return err("--stats requires a key")
      case "--stats" :: s :: rest =>
        if (s.trim.isEmpty) return err("--stats requires a non-empty key")
        stats = Some(s.trim); it = rest
      case "--limit" :: rest =>
        val v = rest.headOption.flatMap(_.toIntOption)
        if (v.isEmpty) return err("--limit requires an integer")
        limit = v.get; it = rest.tail
      case "--offset" :: rest =>
        val v = rest.headOption.flatMap(_.toIntOption)
        if (v.isEmpty) return err("--offset requires an integer")
        offset = v.get; it = rest.tail
      case other :: _ => return err(s"unknown analyze option '$other'")
      case Nil => ()
    }
    if (filter.forall(_.trim.isEmpty))
      return err("analyze requires --filter <expr>")
    if (limit < 1) return err("--limit must be >= 1")
    if (offset < 0) return err("--offset must be >= 0")
    try FilterAlgebra.parse(filter.get)
    catch {
      case e: IllegalArgumentException =>
        return err(s"invalid --filter expression: ${e.getMessage}")
    }
    println(s"Matched: ${engine.analyzeCount(filter.get)}")
    stats match {
      case Some(key) => printStats(engine, filter.get, key)
      case None =>
        val df = engine.analyzeProject(filter.get, fields, limit, offset)
        val headers = df.columns.map(c => if (c == "id") "ID" else c).toSeq
        val rows = df.collect().map(_.toSeq.map {
          case null => ""
          case v => String.valueOf(v)
        })
        printTable(headers, rows.toSeq)
    }
    0
  }

  /** Stats block (memo_cli.py:581-633): cardinality over format_cell
    * renderings, top-4 + other rollup, then numeric min/max/avg if ALL
    * values coerce numerically (typed numbers directly, strings via
    * float(str(v))), else date range if ALL values ISO-parse.
    *
    * Computed over [[MemoEngine.statsPairs]]'s (raw value, count)
    * pairs — every line is a cnt-weighted function of them — so a
    * registered view covering the (key, filter) ask serves the whole
    * block O(state) with byte-identical output, and everything else
    * takes the segment-pruned corpus scan. */
  private def printStats(engine: MemoEngine, filterExpr: String, key: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.metaDisplay
    val values = engine.statsPairs(filterExpr, key)
      .select(col("cnt"), metaDisplay(col("raw")).as("v"),
        MemoOps.statsNumericValue(col("raw")).as("num"),
        MemoOps.statsDateValue(col("raw")).as("dt"))
    println(s"Key: $key")
    // bounded driver-side state: top-4 rows + two scalars — never the full
    // histogram (the value cardinality is unbounded at scale). Two raw
    // encodings can share a rendering (i42 and s42 both print "42"), so
    // the display rollup re-groups the pairs.
    val top = values.groupBy("v").agg(sum(col("cnt")).as("count"))
      .orderBy(desc("count"), col("v")).limit(4).collect()
    val totals = values.agg(sum(col("cnt")).as("n"),
      countDistinct(col("v")).as("d")).collect()(0)
    val (total, distinct) =
      (if (totals.isNullAt(0)) 0L else totals.getLong(0), totals.getLong(1))
    println(s"Cardinality (distinct values): $distinct")
    println("Cardinality by value:")
    top.foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))
    if (distinct > 4) {
      val other = total - top.map(_.getLong(1)).sum
      println(s"  other (aggregate of ${distinct - 4} additional values): $other")
    }
    if (total == 0) return
    val stats = values.agg(
      sum(col("cnt")).as("n"),
      sum(when(col("num").isNotNull, col("cnt")).otherwise(0L)).as("n_num"),
      min(col("num")).as("nmin"),
      max(col("num")).as("nmax"),
      (sum(col("num") * col("cnt")) /
        sum(when(col("num").isNotNull, col("cnt")).otherwise(0L)))
        .as("navg"),
      sum(when(col("dt").isNotNull, col("cnt")).otherwise(0L)).as("n_date"),
      date_format(min(col("dt")), "yyyy-MM-dd").as("dmin"),
      date_format(max(col("dt")), "yyyy-MM-dd").as("dmax")
    ).collect()(0)
    val n = stats.getLong(0)
    def g(x: Double): String = MemoCli.pyG(x)
    if (stats.getLong(1) == n) {
      println("Range (numeric):")
      println(s"  min: ${g(stats.getDouble(2))}")
      println(s"  max: ${g(stats.getDouble(3))}")
      println(s"  avg: ${MemoCli.py2f(stats.getDouble(4))}")
    } else if (stats.getLong(5) == n) {
      println("Range (date-like):")
      println(s"  start: ${stats.getString(6)}")
      println(s"  end:   ${stats.getString(7)}")
    }
  }

  /** Python `%g` rendering (used by the reference's stats range lines,
    * memo_cli.py:615-616): 6 significant digits, trailing zeros stripped in
    * BOTH fixed and exponent forms — Java's %g keeps them ("2.50000e+06"
    * where Python prints "2.5e+06"). */
  def pyG(x: Double): String = {
    val s = "%g".format(x)
    val ei = s.indexWhere(c => c == 'e' || c == 'E')
    if (ei < 0) {
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    } else {
      val (mant, exp) = (s.substring(0, ei), s.substring(ei))
      val m =
        if (mant.contains('.'))
          mant.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
        else mant
      m + exp
    }
  }

  /** Python `.2f` rendering (the reference's stats avg line,
    * memo_cli.py:617): correctly-rounded to 2 decimals with ROUND
    * HALF-EVEN on the EXACT binary value of the double — Java's %.2f
    * rounds HALF-UP, so an exactly-representable boundary value
    * diverges (0.125 → Python "0.12", Java "0.13"). Negative values
    * that round to zero keep their sign ("-0.00"), as Python does. */
  def py2f(x: Double): String = {
    if (x.isNaN) return "nan"
    if (x.isInfinite) return if (x > 0) "inf" else "-inf"
    val r = new java.math.BigDecimal(x)
      .setScale(2, java.math.RoundingMode.HALF_EVEN)
    val s = r.toPlainString
    if ((x < 0 || 1.0 / x < 0) && !s.startsWith("-")) "-" + s else s
  }

  /** Aligned two-space table (memo_cli.py:568-578). */
  def printTable(headers: Seq[String], rows: Seq[Seq[String]]): Unit = {
    if (headers.isEmpty) return
    val widths = headers.indices.map { i =>
      (headers(i).length +: rows.map(_(i).length)).max
    }
    def fmt(cells: Seq[String]): String =
      cells.zipWithIndex.map { case (c, i) => c.padTo(widths(i), ' ') }
        .mkString("  ").replaceAll("\\s+$", "")
    println(fmt(headers))
    rows.foreach(r => println(fmt(r)))
  }

  private def cmdClean(engine: MemoEngine, base: String): Int = {
    if (engine.clean()) println(s"Cleared memory database ($base)")
    else println(s"Database already empty ($base)")
    0
  }

  private def cmdReindex(engine: MemoEngine, base: String, verbose: Boolean): Int = {
    val dropped = engine.reindex()
    vlog(verbose, s"Rebuilt index with ${engine.records.count()} vectors " +
      s"(skipped 0 blank records)") // blanks dropped by compaction itself
    println(s"Rebuilt index from $base")
    println(s"Wrote index: $base")
    if (dropped > 0) println(s"Compacted: dropped $dropped blank/deleted entries")
    0
  }

  /** Maintenance verb for [[MemoEngine.clusterBy]] — beyond the
    * reference (which has no layout concept), same stdout discipline as
    * reindex: result lines only, diagnostics to stderr under -v. A
    * comma-separated key list takes the multi-key (Z-order) arm. */
  /** `maintain [retrainSkew] [--compact]` — [[MemoEngine.maintain]]:
    * one call brings every maintained artifact family current (and
    * optionally retrains drifted quantizers / re-grids fragmented view
    * state at the engine-default threshold), printing one
    * `family: status` line each. */
  private def cmdMaintain(engine: MemoEngine, base: String,
      retrainSkew: Option[Double], compact: Boolean): Int = {
    if (!engine.exists) {
      System.err.println(s"Error: no database at $base")
      return 1
    }
    engine.maintain(retrainSkew,
      if (compact) Some(MemoEngine.DefaultViewCompactFrag) else None)
      .foreach { case (f, st) => println(s"$f: $st") }
    0
  }

  /** `retrain [maxSkew]` — the drift maintenance op
    * ([[MemoEngine.retrainIvf]]): report the stored occupancy skew (a
    * driver-side metadata read), rebalance the one ANN artifact —
    * centroids and codebooks together — only if it exceeds the
    * threshold. */
  private def cmdRetrain(engine: MemoEngine, base: String,
      maxSkew: Double): Int = {
    if (!engine.exists) {
      System.err.println(s"Error: no database at $base")
      return 1
    }
    val fired = engine.retrainIvf(maxSkew)
    val s = engine.ivfSkew().map(v => f"$v%.1f").getOrElse("n/a")
    if (fired) println(s"Retrained ann index (skew now $s)")
    else println(s"No retrain needed for ann index (skew $s <= $maxSkew)")
    0
  }

  /** `dups [minJaccard]` — the engine-maintained transitive duplicate-
    * group labeling ([[MemoEngine.dupGroups]]): one `component: id id …`
    * line per group (members ascending, groups by component id), then a
    * `Groups: N (M docs)` summary. Beyond the reference (which has no
    * dedup surface); bounded output — the labeling only holds docs in
    * groups of size ≥ 2. */
  private def cmdDups(engine: MemoEngine, base: String,
      minJaccard: Double): Int = {
    if (!engine.exists) {
      System.err.println(s"Error: no database at $base")
      return 1
    }
    val labels = engine.dupGroups(minJaccard).collect()
      .map(r => (r.getLong(1), r.getLong(0)))
    labels.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (c, rows) =>
      println(s"$c: ${rows.map(_._2).sorted.mkString(" ")}")
    }
    println(s"Groups: ${labels.map(_._1).distinct.length} " +
      s"(${labels.length} docs)")
    0
  }

  /** `dedup [minJaccard]` — keep-one-per-duplicate-group compaction
    * ([[MemoEngine.dedupCompact]]): reindex's compaction generalized to
    * near-duplicate rows. Mirrors reindex's stdout shape: the rebuild
    * lines, then the dropped count. */
  private def cmdDedup(engine: MemoEngine, base: String,
      minJaccard: Double): Int = {
    if (!engine.exists) {
      System.err.println(s"Error: no database at $base")
      return 1
    }
    val dropped = engine.dedupCompact(minJaccard)
    println(s"Rebuilt index from $base")
    println(s"Wrote index: $base")
    println(s"Compacted: dropped $dropped duplicate/blank entries " +
      s"(kept one per group, minJaccard $minJaccard)")
    0
  }

  private def cmdCluster(engine: MemoEngine, base: String, key: String,
      nClusters: Option[Int], verbose: Boolean): Int = {
    if (!engine.exists) {
      System.err.println(s"Error: no database at $base")
      return 1
    }
    val keys = key.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (keys.isEmpty || keys.distinct != keys) {
      System.err.println(
        "Error: cluster requires distinct non-empty key names")
      return 1
    }
    val v = engine.clusterBy(keys, nClusters.getOrElse(8))
    vlog(verbose, s"Clustered store now at v$v")
    println(s"Clustered $base by ${keys.mkString(",")}")
    0
  }
}
