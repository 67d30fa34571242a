package graft.functions

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded min-k aggregator — the distributed-state core of the KMV
  * (k-minimum-values) distinct-count sketch. The buffer is a sorted array
  * of at most `k` DISTINCT values, so map-side partial aggregation carries
  * O(k) state per grouping key per partition regardless of input size:
  * exactly the property that makes KMV a one-shuffle cardinality estimator
  * at 100 TB, where a `collect_set`-then-sort would buffer the full
  * distinct set.
  *
  * Duplicate-insensitive by construction (values already in the buffer are
  * ignored), so it can run over the raw value stream — no `distinct()`
  * pre-shuffle needed.
  */
class MinK(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
  require(k > 0, "k must be positive")

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(buf: Array[Long], v: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(buf, v)
    if (i >= 0) buf // already present
    else {
      val ins = -i - 1
      if (buf.length >= k && ins >= k) buf // not among the k smallest
      else {
        val n = math.min(buf.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(buf, 0, out, 0, ins)
        out(ins) = v
        System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
        out
      }
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    // merge two sorted distinct arrays, keep the k smallest distinct
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var n = 0
    var last = 0L; var has = false
    while (n < out.length && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (!has || v != last) { out(n) = v; n += 1; last = v; has = true }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  override def finish(r: Array[Long]): Array[Long] = r

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
