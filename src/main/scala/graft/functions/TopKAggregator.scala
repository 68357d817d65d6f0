package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-heap top-k aggregator: keeps the k highest-scoring (id, score)
  * pairs per group with map-side partial aggregation.
  *
  * Scale rationale: the window-function formulation of batch kNN
  * (`row_number() over (partition by query order by score)`) shuffles EVERY
  * scored row (N×Q) to sort whole groups. This aggregator reduces each
  * partition to ≤ k rows per query before the shuffle — the shuffle carries
  * Q×k×partitions rows instead of N×Q. At 100 TB that is the difference
  * between a broadcast-sized shuffle and an impossible one.
  */
object TopKAggregator {

  /** The (score desc, id asc) order over driver-side (id, score) pairs,
    * with doubles compared as Spark SQL sorts them (NaN largest,
    * −0.0 = 0.0). */
  val ScoreOrder: Ordering[(Long, Double)] = (a, b) => {
    val bySc = if (a._2 == b._2) 0 else java.lang.Double.compare(b._2, a._2)
    if (bySc != 0) bySc else java.lang.Long.compare(a._1, b._1)
  }

  /** Buffer = fixed-capacity min-heap on score (ties broken by larger id,
    * so the kept set prefers smaller ids, matching orderBy(score desc, id)). */
  case class Heap(k: Int, ids: Array[Long], scores: Array[Double], var size: Int)

  private[functions] def newHeap(k: Int) =
    Heap(k, new Array[Long](k), new Array[Double](k), 0)

  /** a is "worse" than b → a should be evicted first. */
  @inline private def worse(sa: Double, ia: Long, sb: Double, ib: Long): Boolean =
    sa < sb || (sa == sb && ia > ib)

  private def siftDown(h: Heap, start: Int): Unit = {
    var i = start
    while (true) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < h.size && worse(h.scores(l), h.ids(l), h.scores(m), h.ids(m))) m = l
      if (r < h.size && worse(h.scores(r), h.ids(r), h.scores(m), h.ids(m))) m = r
      if (m == i) return
      val ti = h.ids(i); h.ids(i) = h.ids(m); h.ids(m) = ti
      val ts = h.scores(i); h.scores(i) = h.scores(m); h.scores(m) = ts
      i = m
    }
  }

  private def siftUp(h: Heap, start: Int): Unit = {
    var i = start
    while (i > 0) {
      val p = (i - 1) / 2
      if (worse(h.scores(i), h.ids(i), h.scores(p), h.ids(p))) {
        val ti = h.ids(i); h.ids(i) = h.ids(p); h.ids(p) = ti
        val ts = h.scores(i); h.scores(i) = h.scores(p); h.scores(p) = ts
        i = p
      } else return
    }
  }

  private[functions] def push(h: Heap, id: Long, score: Double): Heap = {
    if (h.size < h.k) {
      h.ids(h.size) = id; h.scores(h.size) = score; h.size += 1
      siftUp(h, h.size - 1)
    } else if (worse(h.scores(0), h.ids(0), score, id)) {
      h.ids(0) = id; h.scores(0) = score
      siftDown(h, 0)
    }
    h
  }

  /** Aggregator over (id, score) rows → array of (id, score) structs sorted
    * by score desc, id asc. */
  def topK(k: Int): Aggregator[(Long, Double), Heap, Seq[(Long, Double)]] =
    new Aggregator[(Long, Double), Heap, Seq[(Long, Double)]] {
      override def zero: Heap = newHeap(k)
      override def reduce(b: Heap, a: (Long, Double)): Heap = push(b, a._1, a._2)
      override def merge(b1: Heap, b2: Heap): Heap = {
        var i = 0
        while (i < b2.size) { push(b1, b2.ids(i), b2.scores(i)); i += 1 }
        b1
      }
      override def finish(h: Heap): Seq[(Long, Double)] =
        (0 until h.size).map(i => (h.ids(i), h.scores(i)))
          .sortBy { case (id, s) => (-s, id) }
      override def bufferEncoder: Encoder[Heap] = Encoders.product[Heap]
      override def outputEncoder: Encoder[Seq[(Long, Double)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }
}
