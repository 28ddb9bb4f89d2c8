package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Grouped elementwise vector mean — the reference's `update_centroids`
  * step (ivfflat.rs:47-71) as a typed Spark `Aggregator`: partial sums
  * merge associatively (map-side combine for free), and an EMPTY group
  * yields the ZERO vector — that quirk is part of the reference's
  * semantics and is preserved here (ivfflat.rs:56-60).
  *
  * This is the one custom aggregate the engine needs (SURVEY §7); the
  * production k-means build runs on the driver or in MLlib
  * ([[graft.index.IVFFlat.build]]), but Lloyd's update step is
  * exposed via [[graft.index.IVFFlat.updateCentroids]] on top of this.
  */
class VectorMean(dim: Int)
  extends Aggregator[Array[Float], (Array[Double], Long), Array[Float]] {

  override def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)

  override def reduce(b: (Array[Double], Long), v: Array[Float]): (Array[Double], Long) = {
    val (s, n) = b
    var i = 0
    while (i < dim && i < v.length) { s(i) += v(i); i += 1 }
    (s, n + 1)
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    val (s1, n1) = a; val (s2, n2) = b
    var i = 0
    while (i < dim) { s1(i) += s2(i); i += 1 }
    (s1, n1 + n2)
  }

  override def finish(r: (Array[Double], Long)): Array[Float] = {
    val (s, n) = r
    if (n == 0L) new Array[Float](dim) // empty cluster → zero vector
    else s.map(x => (x / n).toFloat)
  }

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    Encoders.tuple(Encoders.javaSerialization[Array[Double]], Encoders.scalaLong)
  override def outputEncoder: Encoder[Array[Float]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]()
}
