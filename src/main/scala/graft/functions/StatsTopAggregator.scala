package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.unsafe.types.UTF8String

/** The stats rollup's bounded tail (A8, top-4 + "other") as ONE aggregate
  * over (value, cnt) rows, one row per distinct value: it keeps the first
  * [[Size]] rows in Spark's `orderBy(desc("cnt"), col("value"))` order
  * plus the sum and the number of the non-null counts — enough for the
  * stats door to derive the "other" row without collecting every
  * distinct value. */
private[graft] object StatsTopAggregator {

  /** How many values the rollup names before "other". */
  val Size = 4

  /** (top rows in [[Order]], Σ non-null cnt, rows with a non-null cnt). */
  type Top = (Seq[(String, Option[Long])], Long, Long)

  /** cnt desc nulls last, then value asc nulls first, strings compared
    * as Spark compares them (UTF-8 bytes). */
  val Order: Ordering[(String, Option[Long])] = (a, b) => {
    val byCnt = (a._2, b._2) match {
      case (Some(x), Some(y)) => java.lang.Long.compare(y, x)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => 0
    }
    if (byCnt != 0) byCnt
    else (a._1, b._1) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x, y) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    }
  }

  /** The aggregate over a (string value, long cnt) pair of columns. */
  def column(value: Column, cnt: Column): Column =
    udaf(top, Encoders.tuple(Encoders.STRING, Encoders.LONG))(value, cnt)

  private val top: Aggregator[(String, java.lang.Long), Top, Top] =
    new Aggregator[(String, java.lang.Long), Top, Top] {
      def zero: Top = (Nil, 0L, 0L)
      def reduce(b: Top, a: (String, java.lang.Long)): Top = {
        val c = Option(a._2).map(_.longValue)
        ((b._1 :+ ((a._1, c))).sorted(Order).take(Size),
          b._2 + c.getOrElse(0L), b._3 + c.size)
      }
      def merge(x: Top, y: Top): Top =
        ((x._1 ++ y._1).sorted(Order).take(Size), x._2 + y._2, x._3 + y._3)
      def finish(b: Top): Top = b
      def bufferEncoder: Encoder[Top] = Encoders.product[Top]
      def outputEncoder: Encoder[Top] = Encoders.product[Top]
    }
}
