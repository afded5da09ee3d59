package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

import graft.ops.LlmCommon

/** Typed sketch aggregators (SURVEY §2.J UDF policy: the one sanctioned
  * custom-aggregation surface). Registered through `functions.udaf`, these
  * run as `TypedImperativeAggregate`s — the buffer lives as a JVM object per
  * group, so the inner loops below are plain JIT-compiled Scala, serialized
  * only across partial/final aggregation boundaries (map-side combine works:
  * `merge` is associative). */
object SketchAggs {

  /** MinHash signature fold: per group, the element-wise minimum of
    * h_i(x) = (a_i·x + b_i) mod P over all shingle hashes x. */
  class MinHashAgg(numHashes: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    private val (as, bs) = LlmCommon.hashParams(numHashes).toArray.unzip
    override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)
    override def reduce(buf: Array[Long], h: Long): Array[Long] = {
      TextKernels.minhashUpdate(buf, h, as, bs)
      buf
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numHashes) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
      x
    }
    override def finish(buf: Array[Long]): Array[Long] = buf
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** SimHash fold: per group, signed per-bit vote counts of 64-bit token
    * hashes; finish collapses votes to the sign fingerprint. */
  class SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var j = 0
      while (j < 64) {
        buf(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      buf
    }
    override def merge(x: Array[Int], y: Array[Int]): Array[Int] = {
      var j = 0
      while (j < 64) { x(j) += y(j); j += 1 }
      x
    }
    override def finish(buf: Array[Int]): Long = {
      var fp = 0L; var j = 0
      while (j < 64) { if (buf(j) > 0) fp |= (1L << j); j += 1 }
      fp
    }
    override def bufferEncoder: Encoder[Array[Int]] = ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
