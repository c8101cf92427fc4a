package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Gram-matrix accumulation as a typed Aggregator: the buffer IS the flat
  * upper-triangle array (d·(d+1)/2 longs), each input vector folded in
  * with a primitive nested loop after `floor(x·scale)` quantization.
  * The exactness argument lives in `Similarity.gramMatrix` (integer sums
  * are order-independent); this class is the mechanical tier — map-side
  * partial buffers, elementwise-add merge, so the shuffle carries one
  * ~1 KB buffer per task regardless of corpus size.
  *
  * Inputs shorter than `dims` treat missing elements as 0; null vectors
  * contribute nothing.
  */
class GramAgg(dims: Int, scale: Int)
    extends Aggregator[Seq[Float], Array[Long], Seq[Long]] {

  private val triLen = dims * (dims + 1) / 2

  override def zero: Array[Long] = new Array[Long](triLen)

  override def reduce(b: Array[Long], vec: Seq[Float]): Array[Long] = {
    if (vec == null) return b
    val q = new Array[Long](dims)
    var i = 0
    val n = math.min(dims, vec.length)
    while (i < n) {
      q(i) = math.floor(vec(i).toDouble * scale).toLong
      i += 1
    }
    var idx = 0
    i = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        b(idx) += q(i) * q(j)
        idx += 1
        j += 1
      }
      i += 1
    }
    b
  }

  override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
    var i = 0
    while (i < triLen) { x(i) += y(i); i += 1 }
    x
  }

  override def finish(b: Array[Long]): Seq[Long] = b.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}

object GramAgg {

  /** `gram(d, s)(vecCol)` → flat upper-triangle `array<bigint>` of
    * length d·(d+1)/2, row-major (i ≤ j).
    */
  def gram(dims: Int, scale: Int): Column => Column = {
    val f = udaf(new GramAgg(dims, scale),
                 org.apache.spark.sql.catalyst.encoders
                   .ExpressionEncoder[Seq[Float]]())
    v => f(v)
  }
}
