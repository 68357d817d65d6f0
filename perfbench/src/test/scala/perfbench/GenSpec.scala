package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.memo.YamlIO

class GenSpec extends AnyFunSuite {
  private def inputs(seed: Long): Seq[String] = {
    val notes = Gen.notes(Gen.rng(seed, 1), 0, 400)
    val batch = Gen.ingestBatch(Gen.rng(seed, 4), 400, 400)
    Seq(Gen.yaml(notes.map(n => (None, n))), Gen.yaml(batch),
      Gen.queries(Gen.rng(seed, 2), 64).mkString("\n"))
  }

  test("the same seed gives byte-identical inputs") {
    val a = inputs(7).map(_.getBytes("UTF-8").toSeq)
    val b = inputs(7).map(_.getBytes("UTF-8").toSeq)
    assert(a == b)
  }

  test("different seeds give different inputs") {
    assert(inputs(7) != inputs(8))
  }

  test("generated YAML parses back to the generated notes") {
    val notes = Gen.notes(Gen.rng(3, 1), 0, 200)
    val parsed = YamlIO.parseSaveBatch(Gen.yaml(notes.map(n => (None, n))))
    assert(parsed.map(_._2) == notes.map(_.body))
    assert(parsed.forall(_._1.isEmpty))
    assert(parsed.forall(p => Set("source", "category", "ts", "priority", "tags")
      .subsetOf(p._3.keySet)))
  }

  test("ts rises with ingest order and the recent filter keeps the newest share") {
    val notes = Gen.notes(Gen.rng(5, 1), 0, 1000)
    assert(notes.map(_.ts) == notes.map(_.ts).sorted)
    val f = Gen.recentFilter(1000, 0.1)
    assert(notes.count(f.matches) == 100)
  }

  test("an overwrite batch carries about 10% distinct existing ids first") {
    val b = Gen.ingestBatch(Gen.rng(9, 4), 500, 500)
    val ids = b.flatMap(_._1)
    assert(ids.size == b.size / 10)
    assert(ids.distinct == ids && ids.forall(i => i >= 0 && i < 500))
    assert(b.take(ids.size).forall(_._1.isDefined))
    assert(Gen.ingestBatch(Gen.rng(9, 4), 500, 0).forall(_._1.isEmpty))
  }
}
