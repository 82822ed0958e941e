package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Native typed aggregate for element-wise vector mean — the
  * TypedImperativeAggregate-style upgrade path over the
  * posexplode+regroup formulation (SURVEY §7): the aggregation buffer
  * is one (sums, count) pair per group per partition, so the shuffle
  * carries |groups| × dims doubles instead of |rows| × dims exploded
  * scalars — at 100 TB that's the difference between shuffling the
  * dataset and shuffling the answer.
  *
  * Buffer merge is associative/commutative; float inputs upcast to
  * double before accumulating.
  */
object VectorAvg extends Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {

  override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)

  override def reduce(b: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
    if (v == null || v.isEmpty) b // null/empty vectors contribute nothing
    else {
      // ragged inputs: grow the buffer to the widest vector seen;
      // shorter vectors contribute to their leading dims only
      val sums =
        if (b._1.length >= v.length) b._1
        else java.util.Arrays.copyOf(b._1, v.length)
      var i = 0
      while (i < v.length) { sums(i) += v(i); i += 1 }
      (sums, b._2 + 1)
    }
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._2 == 0) b
    else if (b._2 == 0) a
    else {
      val (wide, narrow) =
        if (a._1.length >= b._1.length) (a._1, b._1) else (b._1, a._1)
      var i = 0
      while (i < narrow.length) { wide(i) += narrow(i); i += 1 }
      (wide, a._2 + b._2)
    }
  }

  override def finish(r: (Array[Double], Long)): Seq[Double] =
    if (r._2 == 0) Seq.empty
    else r._1.map(_ / r._2).toSeq

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()

  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}
