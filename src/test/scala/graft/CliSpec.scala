package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.memo.{MemoCli, MemoEngine}

/** Golden transcript replay of the CLI lifecycle (reference
  * SKILL.md:96-151): exact stdout contract for save / recall / filtered
  * recall / analyze / stats / reindex / clean. */
class CliSpec extends SparkTestBase {

  private def run(args: String*): (Int, String) = {
    val out = new ByteArrayOutputStream()
    val code = Console.withOut(out)(MemoCli.run(spark, args.toList))
    (code, out.toString)
  }

  private def withDb(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("cli_spec").toString
    try f(s"$dir/db") finally ()
  }

  private def writeTemp(content: String): String = {
    val p = Files.createTempFile("cli_in", ".yaml")
    Files.writeString(p, content)
    p.toString
  }

  private val batch = writeTemp(
    """---
      |body: I am allergic to peanuts.
      |metadata: {source: user, category: health}
      |---
      |body: User prefers dark mode.
      |metadata: {source: user, category: ui}
      |""".stripMargin)

  test("export/import migration verbs round-trip the store distributed") {
    withDb { db =>
      run("-f", db, "save", batch)
      val outDir = Files.createTempDirectory("cli_mig").resolve("db.yaml.d")
      val (ec, eout) = run("-f", db, "export", outDir.toString)
      assert(ec == 0)
      assert(eout == "Exported 2 records\n")
      withDb { db2 =>
        val (ic, iout) = run("-f", db2, "import", outDir.toString)
        assert(ic == 0)
        assert(iout == "Imported 2 records\n")
        // migrated store answers recall like the original
        val (_, r) = run("-f", db2, "recall", "-k", "1", "peanuts")
        assert(r.contains("I am allergic to peanuts."))
        run("-f", db2, "clean")
      }
      // a .jsonl path routes through the JSONL interchange
      val jl = Files.createTempDirectory("cli_mig_jl").resolve("dump.jsonl.d")
      assert(run("-f", db, "export", jl.toString) == ((0, "Exported 2 records\n")))
      withDb { db3 =>
        assert(run("-f", db3, "import", jl.toString)._2 == "Imported 2 records\n")
        val (_, r3) = run("-f", db3, "recall", "-k", "1", "peanuts")
        assert(r3.contains("I am allergic to peanuts."))
        run("-f", db3, "clean")
      }
      // arity + missing-file errors
      assert(run("-f", db, "import")._1 == 1)
      assert(run("-f", db, "import", "/nope/missing.yaml")._1 == 1)
      assert(run("-f", db, "export")._1 == 1)
      run("-f", db, "clean")
    }
  }

  test("save prints Memorized lines with dense ids") {
    withDb { db =>
      val (code, out) = run("-f", db, "save", batch)
      assert(code == 0)
      assert(out ==
        "Memorized: 'I am allergic to peanuts.' (ID: 0)\n" +
        "Memorized: 'User prefers dark mode.' (ID: 1)\n")
      run("-f", db, "clean")
    }
  }

  test("recall prints the block format with banner") {
    withDb { db =>
      run("-f", db, "save", batch)
      val (code, out) = run("-f", db, "recall", "-k", "2", "peanuts", "info")
      assert(code == 0)
      val lines = out.split("\n")
      assert(lines(0) == "Top 2 results:")
      assert(lines(1).matches("""  \[0\] Score: \d\.\d{4} \|"""))
      assert(lines(2) == "      I am allergic to peanuts.")
      run("-f", db, "clean")
    }
  }

  test("recall --ann/--pq serve from the maintained artifacts; same contract") {
    withDb { db =>
      run("-f", db, "save", batch)
      val (code0, exact) = run("-f", db, "recall", "-k", "2", "peanuts", "info")
      assert(code0 == 0)
      // full probe (tiny store): the ANN and PQ tables are byte-identical
      // to the exact ranking's — same banner, same rows
      val (code1, ann) = run("-f", db, "recall", "-k", "2",
        "--ann", "--nprobe", "16", "peanuts", "info")
      assert(code1 == 0 && ann == exact,
        s"--ann full-probe table diverged:\n$ann\nvs\n$exact")
      val (code2, pq) = run("-f", db, "recall", "-k", "2",
        "--pq", "--nprobe", "16", "peanuts", "info")
      assert(code2 == 0 && pq == exact,
        s"--pq full-probe table diverged:\n$pq\nvs\n$exact")
      // filter rides into the serving path (mask + widening fill)
      val (code3, filtered) = run("-f", db, "recall", "-k", "2", "--ann",
        "--filter", "{source: user}", "peanuts", "info")
      assert(code3 == 0 && filtered.startsWith("Top 2 results:"))
      // error contract: the two serving modes are mutually exclusive,
      // and --nprobe validates
      val (code4, _) = run("-f", db, "recall", "--ann", "--pq", "q")
      assert(code4 == 1)
      val (code5, _) = run("-f", db, "recall", "--ann", "--nprobe", "zero", "q")
      assert(code5 == 1)
      // --nprobe without a probe mode is a typo (the exact path has no
      // probes) — error, never a silent exact serve
      val (code6, _) = run("-f", db, "recall", "--nprobe", "8", "q")
      assert(code6 == 1)
      // --serve routes through the filter-aware front door; on a tiny
      // filtered store the row bound picks the brute arm, so the table
      // is byte-identical to the exact path's
      val (code7, served) = run("-f", db, "recall", "-k", "2", "--serve",
        "--filter", "{source: user}", "peanuts", "info")
      val (_, exactF) = run("-f", db, "recall", "-k", "2",
        "--filter", "{source: user}", "peanuts", "info")
      assert(code7 == 0 && served == exactF,
        s"--serve brute route diverged:\n$served\nvs\n$exactF")
      // mode flags are mutually exclusive, --serve included
      val (code8, _) = run("-f", db, "recall", "--serve", "--ann", "q")
      assert(code8 == 1)
      // --nprobe is legal with --serve (the probe arms take it)
      val (code9, _) = run("-f", db, "recall", "--serve", "--nprobe", "8", "q")
      assert(code9 == 0)
      // --hybrid: fused ranking in the same block format — the fused
      // score sits in the score slot, body lines unchanged
      val (codeH, hyb) = run("-f", db, "recall", "-k", "2", "--hybrid",
        "peanuts", "info")
      assert(codeH == 0)
      val hl = hyb.split("\n")
      assert(hl(0) == "Top 2 results:")
      assert(hl(1).matches("""  \[\d+\] Score: \d\.\d{4} \|"""),
        s"hybrid row format diverged: ${hl(1)}")
      // --hybrid --serve routes the semantic leg; tiny filtered store →
      // brute arm → byte-identical to plain --hybrid under the filter
      val (codeHS, hybServed) = run("-f", db, "recall", "-k", "2",
        "--hybrid", "--serve", "--filter", "{source: user}",
        "peanuts", "info")
      val (_, hybF) = run("-f", db, "recall", "-k", "2", "--hybrid",
        "--filter", "{source: user}", "peanuts", "info")
      assert(codeHS == 0 && hybServed == hybF,
        s"--hybrid --serve brute route diverged:\n$hybServed\nvs\n$hybF")
      // --hybrid composes with --ann/--serve, not --pq (the router owns
      // the compressed arm)
      val (codeHP, _) = run("-f", db, "recall", "--hybrid", "--pq", "q")
      assert(codeHP == 1)
      run("-f", db, "clean")
    }
  }

  test("analyze prints Matched + aligned table with ID header") {
    withDb { db =>
      run("-f", db, "save", batch)
      val (code, out) = run("-f", db, "analyze",
        "--filter", "{source: user}", "--fields", "id,source,category")
      assert(code == 0)
      assert(out ==
        """Matched: 2
          |ID  source  category
          |0   user    health
          |1   user    ui
          |""".stripMargin)
      run("-f", db, "clean")
    }
  }

  test("analyze --stats prints cardinality block and numeric range") {
    withDb { db =>
      run("-f", db, "save", writeTemp(
        "---\nbody: a\nmetadata: {p: 3}\n---\nbody: b\nmetadata: {p: 1}\n"))
      val (code, out) = run("-f", db, "analyze", "--filter", "{}", "--stats", "p")
      assert(code == 0)
      assert(out.contains("Matched: 2\n"))
      assert(out.contains("Cardinality (distinct values): 2\n"))
      assert(out.contains("Range (numeric):\n  min: 1\n  max: 3\n  avg: 2.00\n"))
      run("-f", db, "clean")
    }
  }

  test("stats avg differential: the pair-weighted mean renders identically " +
      "to the reference's per-row mean at .2f rounding boundaries " +
      "(py2f half-even on the exact double, memo_cli.py:613,617)") {
    // value multisets chosen to sit AT or within ulps of a .2f rounding
    // boundary, with repeats so the weighted sum(v*cnt)/sum(cnt) and the
    // reference's per-row left-fold associate differently
    val cases: Seq[Seq[Double]] = Seq(
      Seq(0.125, 0.125),               // exact binary boundary: half-even → 0.12
      Seq(0.375, 0.375, 0.375),        // exact binary boundary → 0.38
      Seq(0.115, 0.135),               // inexact operands landing near 0.125
      Seq(0.1, 0.1, 0.1, 0.35),        // repeats: weighted association differs
      Seq(2.005, 2.005, 2.005, 2.005), // 2.005 is just below its boundary
      Seq(0.005, 0.015, 0.025, 0.035))
    cases.zipWithIndex.foreach { case (vs, i) =>
      withDb { db =>
        val yaml = vs.map(v => s"---\nbody: r\nmetadata: {p: $v}\n").mkString
        run("-f", db, "save", writeTemp(yaml))
        val (code, out) = run("-f", db, "analyze", "--filter", "{}",
          "--stats", "p")
        assert(code == 0, s"case $i failed:\n$out")
        // the reference's formula verbatim: per-row floats in row order,
        // summed left-to-right, / n (memo_cli.py:613), rendered .2f
        val refAvg = graft.memo.MemoCli.py2f(
          vs.foldLeft(0.0)(_ + _) / vs.length)
        assert(out.contains(s"  avg: $refAvg\n"),
          s"case $i (${vs.mkString(",")}): expected avg $refAvg in:\n$out")
        run("-f", db, "clean")
      }
    }
  }

  test("clean and reindex messages; analyze without --filter errors") {
    withDb { db =>
      run("-f", db, "save", batch)
      val (c1, o1) = run("-f", db, "reindex")
      assert(c1 == 0)
      assert(o1.startsWith(s"Rebuilt index from $db\nWrote index: $db\n"))
      val (c2, o2) = run("-f", db, "clean")
      assert(c2 == 0 && o2 == s"Cleared memory database ($db)\n")
      val (c3, o3) = run("-f", db, "clean")
      assert(c3 == 0 && o3 == s"Database already empty ($db)\n")
      val (c4, _) = run("-f", db, "analyze", "--fields", "id")
      assert(c4 == 1) // reference arg errors exit 1 (memo_cli.py:873)
    }
  }

  test("cluster verb re-layouts the store; results and errors contract") {
    withDb { db =>
      run("-f", db, "save", batch)
      run("-f", db, "save", batch) // two segments, mixed categories
      val (c1, o1) = run("-f", db, "cluster", "category")
      assert(c1 == 0 && o1 == s"Clustered $db by category\n")
      // same analyze results through the clustered layout
      val (c2, o2) = run("-f", db, "analyze", "--filter", "category: health")
      assert(c2 == 0 && o2.startsWith("Matched: 2\n"))
      // arity/arg errors exit 1, nothing on stdout
      assert(run("-f", db, "cluster")._1 == 1)
      assert(run("-f", db, "cluster", "category", "1")._1 == 1)
      assert(run("-f", db, "cluster", "category", "4", "x")._1 == 1)
      run("-f", db, "clean")
      assert(run("-f", db, "cluster", "category")._1 == 1) // no db
    }
  }

  test("golden lifecycle transcript replay (SKILL.md:96-143)") {
    // byte-identical to the reference transcript modulo two documented
    // drifts: (1) scores differ — deterministic murmur3 embedding replaces
    // the reference's process-seeded hash; (2) the recall banner omits the
    // query (matching memo_cli.py:472 — SKILL.md's banner drifted from its
    // own code); (3) store paths are one base dir, not a .memo/.yaml pair.
    withDb { db =>
      val input = writeTemp(
        """---
          |body: I am allergic to peanuts.
          |metadata: {source: user, category: health}
          |---
          |body: User prefers dark mode.
          |metadata: {source: user, category: ui}
          |""".stripMargin)
      val (c1, o1) = run("-f", db, "save", input)
      assert(c1 == 0)
      assert(o1 ==
        "Memorized: 'I am allergic to peanuts.' (ID: 0)\n" +
        "Memorized: 'User prefers dark mode.' (ID: 1)\n")
      val (c2, o2) = run("-f", db, "recall", "-k", "2", "health", "info")
      assert(c2 == 0)
      val l2 = o2.split("\n", -1)
      assert(l2(0) == "Top 2 results:")
      assert(l2(1).matches("""  \[\d+\] Score: -?\d\.\d{4} \|"""))
      assert(l2(2).startsWith("      "))
      val (c3, o3) = run("-f", db, "recall", "-k", "3",
        "--filter", "{source: user}", "what", "do", "I", "know")
      assert(c3 == 0)
      assert(o3.startsWith("Top 3 results:\n"))
      val (c4, o4) = run("-f", db, "analyze",
        "--filter", "{source: user}", "--fields", "id,source,category")
      assert(c4 == 0)
      assert(o4 ==
        """Matched: 2
          |ID  source  category
          |0   user    health
          |1   user    ui
          |""".stripMargin)
      val (c5, o5) = run("-f", db, "reindex")
      assert(c5 == 0)
      assert(o5 == s"Rebuilt index from $db\nWrote index: $db\n")
      val (c6, o6) = run("-f", db, "clean")
      assert(c6 == 0)
      assert(o6 == s"Cleared memory database ($db)\n")
    }
  }

  test("reindex-after-delete lifecycle end-to-end through the CLI") {
    // the one lifecycle path q72/q78 pin only at the ops layer: soft-
    // delete via overwrite, reindex compacts + re-sequences, recall
    // serves the compacted store — all through the CLI surface
    withDb { db =>
      val input = writeTemp(
        """---
          |body: Peanut allergy noted.
          |metadata: {source: user}
          |---
          |body: Temporary scratch note.
          |metadata: {source: user}
          |---
          |body: User prefers dark mode.
          |metadata: {source: user}
          |""".stripMargin)
      val (c1, o1) = run("-f", db, "save", input)
      assert(c1 == 0)
      assert(o1 ==
        "Memorized: 'Peanut allergy noted.' (ID: 0)\n" +
        "Memorized: 'Temporary scratch note.' (ID: 1)\n" +
        "Memorized: 'User prefers dark mode.' (ID: 2)\n")
      // soft delete = overwrite the id with deleted: true (the reference
      // idiom; recall still serves it until reindex compacts)
      val del = writeTemp(
        """---
          |id: 1
          |body: Temporary scratch note.
          |metadata: {deleted: true}
          |""".stripMargin)
      val (c2, o2) = run("-f", db, "save", del)
      assert(c2 == 0)
      assert(o2 == "Memorized: 'Temporary scratch note.' (ID: 1)\n")
      val (c3, o3) = run("-f", db, "reindex")
      assert(c3 == 0)
      assert(o3 == s"Rebuilt index from $db\nWrote index: $db\n" +
        "Compacted: dropped 1 blank/deleted entries\n")
      // the compacted store serves dense re-sequenced ids 0..1 and the
      // deleted note is gone
      val (c4, o4) = run("-f", db, "recall", "-k", "3", "user", "note")
      assert(c4 == 0)
      val lines = o4.split("\n", -1)
      assert(lines(0) == "Top 3 results:")
      assert(!o4.contains("Temporary scratch note"),
        "reindexed-away record still served by recall")
      val served = lines.drop(1).filter(_.matches("""  \[\d+\].*"""))
        .map(_.dropWhile(_ != '[').drop(1).takeWhile(_ != ']').toLong).toSet
      assert(served == Set(0L, 1L),
        s"expected dense re-sequenced ids 0,1 — got $served")
      // and analyze agrees: exactly the two survivors remain
      val (c5, o5) = run("-f", db, "analyze", "--fields", "id",
        "--filter", "{source: user}")
      assert(c5 == 0 && o5.startsWith("Matched: 2\n"), o5)
      run("-f", db, "clean")
    }
  }

  test("analyze renders whole-metadata cells as YAML flow (format_cell)") {
    withDb { db =>
      run("-f", db, "save", writeTemp(
        "---\nbody: a note\nmetadata: {source: user, n: 7, pi: 2.5, ok: true}\n"))
      val (code, out) = run("-f", db, "analyze",
        "--filter", "{source: user}", "--fields", "id,metadata")
      assert(code == 0)
      // PyYAML flow dump: unquoted plain scalars, typed values rendered
      // as YAML (int 7, float 2.5, bool true), insertion order kept
      assert(out ==
        """Matched: 1
          |ID  metadata
          |0   {source: user, n: 7, pi: 2.5, ok: true}
          |""".stripMargin)
      run("-f", db, "clean")
    }
  }

  test("-v routes diagnostics to stderr; stdout stays result-only") {
    withDb { db =>
      val errBuf = new ByteArrayOutputStream()
      val oldErr = System.err
      val (code, out) =
        try {
          System.setErr(new java.io.PrintStream(errBuf, true))
          run("-f", db, "-v", "save", batch)
        } finally System.setErr(oldErr)
      assert(code == 0)
      assert(out ==
        "Memorized: 'I am allergic to peanuts.' (ID: 0)\n" +
        "Memorized: 'User prefers dark mode.' (ID: 1)\n")
      assert(errBuf.toString.contains("Indexed 2 records incrementally"))
      // without -v the diagnostic is absent
      val errBuf2 = new ByteArrayOutputStream()
      val (code2, _) =
        try {
          System.setErr(new java.io.PrintStream(errBuf2, true))
          run("-f", db, "reindex")
        } finally System.setErr(oldErr)
      assert(code2 == 0)
      assert(!errBuf2.toString.contains("Rebuilt index with"))
      run("-f", db, "clean")
    }
  }

  test("dotted --fields keep their exact text in table headers") {
    withDb { db =>
      run("-f", db, "save", batch)
      val (code, out) = run("-f", db, "analyze",
        "--filter", "{source: user}", "--fields", "id,metadata.source")
      assert(code == 0)
      assert(out ==
        """Matched: 2
          |ID  metadata.source
          |0   user
          |1   user
          |""".stripMargin)
      run("-f", db, "clean")
    }
  }

  test("analyze --stats output is byte-identical whether the block is " +
      "scan-served or served from a covering view") {
    withDb { db =>
      run("-f", db, "save", writeTemp(
        "---\nbody: a\nmetadata: {lang: en, src: s1}\n" +
          "---\nbody: b\nmetadata: {lang: en, src: s2}\n" +
          "---\nbody: c\nmetadata: {lang: sw, src: s1}\n" +
          "---\nbody: d\nmetadata: {lang: en, src: s1}\n"))
      val ask = Seq("-f", db, "analyze", "--filter", "{lang: en}",
        "--stats", "src")
      val (c1, viaScan) = run(ask: _*)
      assert(c1 == 0 && viaScan.contains("Cardinality (distinct values): 2\n"))
      // register a covering view directly against the same store: the
      // CLI's next --stats must serve from its state with the SAME bytes
      val engine = new MemoEngine(spark, db)
      engine.viewState("cardsrc", "metadata['src']",
        where = Some("{lang: en}"))
      assert(engine.statsPairs("{lang: en}", "src").collect().nonEmpty)
      assert(engine.lastStatsSource.contains("view:cardsrc"))
      val (c2, viaView) = run(ask: _*)
      assert(c2 == 0 && viaView == viaScan,
        s"view-served stats block diverged:\n$viaView\nvs\n$viaScan")
      run("-f", db, "clean")
    }
  }

  test("analyze Matched count is byte-identical whether scan-served or " +
      "served from a covering view's doc_count") {
    withDb { db =>
      run("-f", db, "save", writeTemp(
        "---\nbody: a\nmetadata: {lang: en, src: s1}\n" +
          "---\nbody: b\nmetadata: {lang: en, src: s2}\n" +
          "---\nbody: c\nmetadata: {lang: sw, src: s1}\n" +
          "---\nbody: d\nmetadata: {lang: en, src: s1}\n"))
      val ask = Seq("-f", db, "analyze", "--filter", "{lang: en}",
        "--fields", "id,src")
      val (c1, viaScan) = run(ask: _*)
      assert(c1 == 0 && viaScan.startsWith("Matched: 3\n"), viaScan)
      val engine = new MemoEngine(spark, db)
      engine.viewState("cnt", "metadata['src']",
        where = Some("{lang: en}"))
      assert(engine.analyzeCount("{lang: en}") == 3)
      assert(engine.lastCountSource.contains("view:cnt"),
        s"expected the view route, got ${engine.lastCountSource}")
      // uncovered filter falls back to the scan
      assert(engine.analyzeCount("{lang: sw}") == 1)
      assert(engine.lastCountSource.contains("scan"))
      val (c2, viaView) = run(ask: _*)
      assert(c2 == 0 && viaView == viaScan,
        s"view-served Matched diverged:\n$viaView\nvs\n$viaScan")
      run("-f", db, "clean")
    }
  }

  test("retrain verb: reports the stored skew, fires only past the " +
      "threshold, one ANN index (no --pq), errors on bad args") {
    withDb { db =>
      // no database yet
      val (c0, _) = run("-f", db, "retrain")
      assert(c0 == 1)
      run("-f", db, "save", batch)
      // fresh build: balanced — no retrain, skew reported
      val (c1, o1) = run("-f", db, "retrain")
      assert(c1 == 0 && o1.startsWith("No retrain needed for ann index " +
        "(skew "), o1)
      val (c2, o2) = run("-f", db, "retrain", "2.0")
      assert(c2 == 0 && o2.contains("ann index"), o2)
      // the IVF and IVF-PQ routes share one artifact: there is no
      // separate compressed index to target
      assert(run("-f", db, "retrain", "--pq")._1 == 1)
      assert(run("-f", db, "retrain", "--pq", "2.0")._1 == 1)
      // arity/arg errors
      assert(run("-f", db, "retrain", "nope")._1 == 1)
      assert(run("-f", db, "retrain", "0.5")._1 == 1)
      assert(run("-f", db, "retrain", "2.0", "3.0")._1 == 1)
      run("-f", db, "clean")
    }
  }

  test("maintain verb: one family-status line each, optional retrain " +
      "threshold, errors on bad args") {
    withDb { db =>
      val (c0, _) = run("-f", db, "maintain")
      assert(c0 == 1) // no database yet
      run("-f", db, "save", batch)
      val (c1, o1) = run("-f", db, "maintain")
      assert(c1 == 0, o1)
      Seq("lexical: current", "ivf: current", "signatures: current")
        .foreach(l => assert(o1.contains(l), s"missing '$l' in:\n$o1"))
      assert(!o1.contains("ivfpq"), o1)
      assert(!o1.contains("retrain"), "no threshold → no retrain lines")
      val (c2, o2) = run("-f", db, "maintain", "1000000.0")
      assert(c2 == 0 && o2.contains("ivf_retrain: skipped") &&
        !o2.contains("ivfpq"), o2)
      assert(run("-f", db, "maintain", "0.5")._1 == 1)
      assert(run("-f", db, "maintain", "2.0", "3.0")._1 == 1)
      // --compact composes with the retrain threshold in either order
      // and adds one compact:<view> line per registered view (none
      // registered here → no lines, exit 0); a stray flag still errors
      val (c3, o3) = run("-f", db, "maintain", "--compact")
      assert(c3 == 0 && !o3.contains("compact:"), o3)
      assert(run("-f", db, "maintain", "1000000.0", "--compact")._1 == 0)
      assert(run("-f", db, "maintain", "--compact", "1000000.0")._1 == 0)
      assert(run("-f", db, "maintain", "--compactt")._1 == 1)
      run("-f", db, "clean")
    }
  }

  test("dups verb: prints the maintained duplicate groups, folds on a " +
      "later append, errors on bad args") {
    withDb { db =>
      assert(run("-f", db, "dups")._1 == 1) // no database yet
      // two identical triplet-style docs + one distinct
      val dupsBatch = writeTemp(
        """---
          |body: repeated0 alpha0 beta0 gamma0 delta0
          |---
          |body: repeated0 alpha0 beta0 gamma0 delta0
          |---
          |body: unique9 alpha9 beta9 gamma9 delta9
          |""".stripMargin)
      run("-f", db, "save", dupsBatch)
      val (c1, o1) = run("-f", db, "dups")
      assert(c1 == 0 && o1.contains("0: 0 1") &&
        o1.contains("Groups: 1 (2 docs)"), o1)
      // a later append of another copy FOLDS into the group
      val more = writeTemp(
        "---\nbody: repeated0 alpha0 beta0 gamma0 delta0\n")
      run("-f", db, "save", more)
      val (c2, o2) = run("-f", db, "dups")
      assert(c2 == 0 && o2.contains("0: 0 1 3") &&
        o2.contains("Groups: 1 (3 docs)"), o2)
      assert(run("-f", db, "dups", "1.5")._1 == 1)
      assert(run("-f", db, "dups", "0.8", "0.5")._1 == 1)
      // dedup verb: keep-one-per-group compaction — the group's two
      // non-representative members drop, the unique doc survives, the
      // store re-sequences dense, and the labeling comes back empty
      val (c3, o3) = run("-f", db, "dedup")
      assert(c3 == 0 && o3.contains("dropped 2"), o3)
      val (c4, o4) = run("-f", db, "dups")
      assert(c4 == 0 && o4.contains("Groups: 0 (0 docs)"), o4)
      // idempotent: a second compact finds nothing left to drop
      val (c5, o5) = run("-f", db, "dedup")
      assert(c5 == 0 && o5.contains("dropped 0"), o5)
      assert(run("-f", db, "dedup", "1.5")._1 == 1)
      assert(run("-f", db, "dedup", "0.8", "0.5")._1 == 1)
      run("-f", db, "clean")
    }
  }

  test("--stats id and --stats metadata resolve like resolve_field_value") {
    withDb { db =>
      run("-f", db, "save", batch)
      val (c1, o1) = run("-f", db, "analyze", "--filter", "{}", "--stats", "id")
      assert(c1 == 0)
      // ids are ints → numeric range over doc ids (memo_cli.py:543-549)
      assert(o1 ==
        """Matched: 2
          |Key: id
          |Cardinality (distinct values): 2
          |Cardinality by value:
          |  0: 1
          |  1: 1
          |Range (numeric):
          |  min: 0
          |  max: 1
          |  avg: 0.50
          |""".stripMargin)
      val (c2, o2) = run("-f", db, "analyze", "--filter", "{}", "--stats", "metadata")
      assert(c2 == 0)
      // whole-mapping stats count format_cell (flow YAML) renderings
      assert(o2.contains("{source: user, category: health}: 1\n"))
      assert(o2.contains("{source: user, category: ui}: 1\n"))
      assert(!o2.contains("Range (numeric)")) // dicts never coerce
      run("-f", db, "clean")
    }
  }

  test("stats %g matches Python for fixed and exponent forms") {
    val cases = Seq(
      2500000.0 -> "2.5e+06", 1000000.0 -> "1e+06", 1234567.0 -> "1.23457e+06",
      123456.789 -> "123457", 0.00012345 -> "0.00012345", 1.5 -> "1.5",
      100.0 -> "100", 999999.0 -> "999999")
    cases.foreach { case (v, want) =>
      assert(MemoCli.pyG(v) == want, s"%g of $v")
    }
  }

  test("--help prints usage to stdout and exits 0 (memo_cli.py:695-724)") {
    val (code, out) = run("--help")
    assert(code == 0)
    assert(out.startsWith("Usage:\n  memo --help\n"))
    assert(out.contains("  recall              Semantic recall"))
    assert(out.contains("  --stats <key>"))
    // bare invocation and `help` word also print usage, exit 0
    assert(run() == (0, out))
    assert(run("help") == (0, out))
  }

  test("arg errors mirror the reference's messages and exit codes") {
    withDb { db =>
      def errOf(args: String*): (Int, String) = {
        val errBuf = new ByteArrayOutputStream()
        val oldErr = System.err
        val code =
          try {
            System.setErr(new java.io.PrintStream(errBuf, true))
            run(args: _*)._1
          } finally System.setErr(oldErr)
        (code, errBuf.toString)
      }
      // missing -f → error + help, exit 1
      val (c1, e1) = errOf("recall", "x")
      assert(c1 == 1 && e1.contains("Error: -f <base> is required"))
      // recall contract
      assert(errOf("-f", db, "recall") ==
        ((1, "Error: recall requires <query>\n")))
      assert(errOf("-f", db, "recall", "-k", "abc", "q") ==
        ((1, "Error: -k requires an integer\n")))
      assert(errOf("-f", db, "recall", "--filter") ==
        ((1, "Error: --filter requires a filter expression\n")))
      // analyze contract
      assert(errOf("-f", db, "analyze", "--filter", "{}", "--bogus") ==
        ((1, "Error: unknown analyze option '--bogus'\n")))
      assert(errOf("-f", db, "analyze", "--filter", "  ") ==
        ((1, "Error: analyze requires --filter <expr>\n")))
      assert(errOf("-f", db, "analyze", "--filter", "{}", "--limit", "x") ==
        ((1, "Error: --limit requires an integer\n")))
      assert(errOf("-f", db, "analyze", "--filter", "{}", "--fields", ", ,") ==
        ((1, "Error: --fields requires at least one field\n")))
      assert(errOf("-f", db, "analyze", "--filter", "{}", "--stats", " ") ==
        ((1, "Error: --stats requires a non-empty key\n")))
      // arity errors
      assert(errOf("-f", db, "clean", "extra") ==
        ((1, "Error: clean does not accept extra arguments\n")))
      assert(errOf("-f", db, "save") ==
        ((1, "Error: save requires exactly one <yaml_file>\n")))
      val (c2, e2) = errOf("-f", db, "frobnicate")
      assert(c2 == 1 && e2 == "Error: unknown command 'frobnicate'\n")
    }
  }

  test("recall --yaml emits results list; empty DB gives results: []") {
    withDb { db =>
      val (code, out) = run("-f", db, "recall", "--yaml", "anything")
      assert(code == 0)
      assert(out == "results: []\n")
    }
  }
}
