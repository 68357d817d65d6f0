package graft

import java.nio.file.Files

import graft.memo.MemoEngine

/** [[MemoEngine.commitPhaseHook]] reports each timed phase of an append
  * commit once per commit. The phase names are the contract a commit
  * profile reads, so this spec pins the list. */
class CommitPhaseHookSpec extends SparkTestBase {

  /** The phases one call reported, in report order (legs of one commit
    * report from pool threads). */
  private def phasesOf(f: => Any): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    MemoEngine.commitPhaseHook = (phase, ms) => {
      assert(ms >= 0.0, s"$phase reported $ms ms")
      seen.add(phase)
      ()
    }
    try f finally MemoEngine.commitPhaseHook = null
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
    val save = phasesOf(engine.save(
      "---\nbody: phase append one\nmetadata: {n: 1}\n" +
        "---\nbody: phase append two\nmetadata: {n: 2}\n"))
    assert(save.sorted == appendPhases, save)
    val stream = phasesOf(engine.streamAppend(
      Seq("phase stream one", "phase stream two").toDF("body"), 0L))
    assert(stream.sorted == (appendPhases :+ "mint_shape").sorted, stream)
    assert(engine.records.count() == 5)
    engine.clean()
  }
}
