package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.functions.VectorKernels

/** The harness's own model of a store: the live note per dense id, with
  * its embedding from the public [[VectorKernels]] embedder. Exact recall
  * here is the reference contract — cosine against every live note, the
  * −0.9 floor on the raw score, HALF_UP rounding to 4 places, then
  * (score desc, id asc) and top-k. */
final class Oracle {
  private val notes = ArrayBuffer.empty[Note]
  private val vecs = ArrayBuffer.empty[ArrayData]

  def size: Int = notes.length
  def note(id: Long): Note = notes(id.toInt)
  def all: Iterator[(Long, Note)] = notes.iterator.zipWithIndex.map { case (n, i) => (i.toLong, n) }

  /** Append at the next dense id, or overwrite an existing id. */
  def put(id: Long, n: Note): Unit = {
    val v = embed(n.body)
    if (id == notes.length) { notes += n; vecs += v }
    else { notes(id.toInt) = n; vecs(id.toInt) = v }
  }

  def embed(text: String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(
      VectorKernels.hashEmbedFloats(text, VectorKernels.DefaultDim))

  def rawScore(id: Long, q: ArrayData): Double =
    VectorKernels.cosine(vecs(id.toInt), q, true, true)

  def topK(query: String, k: Int, keep: Note => Boolean): Vector[(Long, Double)] = {
    val q = embed(query)
    val out = ArrayBuffer.empty[(Long, Double)]
    var i = 0
    while (i < notes.length) {
      val n = notes(i)
      if (keep(n) && n.body.trim.nonEmpty) {
        val raw = VectorKernels.cosine(vecs(i), q, true, true)
        if (raw >= Oracle.ScoreFloor) out += ((i.toLong, Oracle.round4(raw)))
      }
      i += 1
    }
    out.sortBy { case (id, s) => (-s, id) }.take(k).toVector
  }
}

object Oracle {
  val ScoreFloor = -0.9
  def round4(d: Double): Double =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
}
