package graft

import java.nio.file.{Files, Paths}

import graft.memo.MemoEngine

/** [[MemoEngine.commitPhaseHook]] reports each timed phase of a commit
  * once per commit. The phase names are the contract a commit profile
  * reads, so this spec pins the list. */
class CommitPhaseHookSpec extends SparkTestBase {

  /** The phases one call on `engine` reported, in report order (legs of
    * one commit report from pool threads). */
  private def phasesOf(engine: MemoEngine)(f: => Any): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    engine.commitPhaseHook = (phase, ms) => {
      assert(ms >= 0.0, s"$phase reported $ms ms")
      seen.add(phase)
      ()
    }
    try f finally engine.commitPhaseHook = null
    seen.toArray(Array.empty[String]).toSeq
  }

  private val appendPhases =
    Seq("idrange_stats", "index_write", "manifests_finalize", "records_write")

  test("a plain-append save reports each commit phase once; streamAppend " +
      "also reports mint_shape") {
    import spark.implicits._
    val db = Files.createTempDirectory("commit_phases").toString + "/db"
    val engine = new MemoEngine(spark, db)
    engine.save("---\nbody: phase seed doc\nmetadata: {n: 0}\n")
    val save = phasesOf(engine)(engine.save(
      "---\nbody: phase append one\nmetadata: {n: 1}\n" +
        "---\nbody: phase append two\nmetadata: {n: 2}\n"))
    assert(save.sorted == appendPhases, save)
    val stream = phasesOf(engine)(engine.streamAppend(
      Seq("phase stream one", "phase stream two").toDF("body"), 0L))
    assert(stream.sorted == (appendPhases :+ "mint_shape").sorted, stream)
    assert(engine.records.count() == 5)
    engine.clean()
  }

  test("the patch arm and restore publish through the same finalize " +
      "phase, once per commit") {
    val db = Files.createTempDirectory("commit_phases_rw").toString + "/db"
    val engine = new MemoEngine(spark, db)
    engine.save("---\nbody: rw seed zero\n---\nbody: rw seed one\n") // v0
    engine.save("---\nbody: rw appended\n") // v1: a second segment
    val patch = phasesOf(engine)(engine.save("---\nid: 0\nbody: rw patched\n"))
    assert(patch == Seq("manifests_finalize"), patch)
    // the overwrite took the patch arm: only it writes a changefeed dir
    assert(Files.isDirectory(Paths.get(db, "v2", "changefeed")),
      "the overwrite save did not take the patch arm")
    val restore = phasesOf(engine)(engine.restore(0))
    assert(restore == Seq("manifests_finalize"), restore)
    assert(engine.records.collect().map(_.getString(1)).toSet ==
      Set("rw seed zero", "rw seed one"))
    engine.clean()
  }
}
