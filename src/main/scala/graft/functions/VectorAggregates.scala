package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Typed UDAFs over embedding columns (SURVEY.md §2 Part B row
  * "UDF/UDAF/UDTF" — the reference has no expression layer at all).
  *
  * [[CentroidAgg]] computes a per-group mean vector in ONE pass over the
  * rows: buffer = (elementwise running sum, count). The composable
  * alternative (posexplode → groupBy(cell, dim) → avg, used by the
  * oracle-checked q41) multiplies the shuffled row count by the vector
  * dimensionality — 64 dims ⇒ 64× the shuffle. At 100 TB the Aggregator
  * shuffles one buffer per (group × partition) instead: partial
  * aggregation happens map-side exactly like a built-in agg, because
  * `Aggregator` IS the built-in agg contract (merge is associative).
  */
object VectorAggregates {

  /** (sum[dim], count) buffer; merge is elementwise — associative and
    * commutative, so Spark can combine partials in any order. */
  final case class VecBuf(sums: Array[Double], n: Long)

  class CentroidAgg extends Aggregator[Seq[Float], VecBuf, Seq[Double]] {
    override def zero: VecBuf = VecBuf(Array.emptyDoubleArray, 0L)

    override def reduce(b: VecBuf, v: Seq[Float]): VecBuf = {
      if (v == null) return b
      val s = if (b.sums.isEmpty) new Array[Double](v.length) else b.sums
      var i = 0
      while (i < v.length && i < s.length) { s(i) += v(i); i += 1 }
      VecBuf(s, b.n + 1)
    }

    override def merge(a: VecBuf, b: VecBuf): VecBuf = {
      if (a.sums.isEmpty) return b
      if (b.sums.isEmpty) return a
      val s = a.sums.clone()
      var i = 0
      while (i < s.length && i < b.sums.length) { s(i) += b.sums(i); i += 1 }
      VecBuf(s, a.n + b.n)
    }

    override def finish(r: VecBuf): Seq[Double] =
      if (r.n == 0) Seq.empty else r.sums.map(_ / r.n).toSeq

    override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** The centroid aggregation as a `Column`, usable in any `agg(...)`. */
  def centroidOf(vec: Column): Column = udaf(new CentroidAgg).apply(vec)

  /** One scored ANN candidate. Field order defines the udaf call shape:
    * `topKOf(k, cosCol, candIdCol)`. */
  final case class ScoredCand(cos: Double, cand_id: Long)

  /** Bounded top-k aggregation: buffer = the current best ≤ k candidates,
    * ordered best-first (cos DESC, cand_id ASC — same total order as the
    * row_number window it replaces). Because `Aggregator` is the built-in
    * agg contract, Spark runs it with map-side partial aggregation: each
    * input partition reduces its probes×rows down to ≤ k candidates per
    * query BEFORE the exchange, so the shuffle carries
    * O(queries × partitions × k) rows instead of probes × corpus — the
    * difference between a 100 TB ANN scan that works and one whose
    * row_number window funnels every scored row through one exchange. */
  class TopKAgg(k: Int) extends Aggregator[ScoredCand, Seq[ScoredCand], Seq[ScoredCand]] {
    private val ord: Ordering[ScoredCand] =
      Ordering.by((s: ScoredCand) => (-s.cos, s.cand_id))

    override def zero: Seq[ScoredCand] = Seq.empty

    override def reduce(b: Seq[ScoredCand], v: ScoredCand): Seq[ScoredCand] =
      if (b.length >= k && ord.lteq(b.last, v)) b // v can't beat the current worst
      else ((b :+ v).sorted(ord)).take(k)

    override def merge(a: Seq[ScoredCand], b: Seq[ScoredCand]): Seq[ScoredCand] =
      (a ++ b).sorted(ord).take(k)

    override def finish(r: Seq[ScoredCand]): Seq[ScoredCand] = r

    override def bufferEncoder: Encoder[Seq[ScoredCand]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredCand]]()
    override def outputEncoder: Encoder[Seq[ScoredCand]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredCand]]()
  }

  /** Top-k as a `Column`: array<struct<cos, cand_id>> ordered best-first. */
  def topKOf(k: Int, cos: Column, candId: Column): Column = {
    udaf(new TopKAgg(k)).apply(cos, candId)
  }

  /** Bounded bottom-k DISTINCT aggregation over longs — the exact KMV
    * sketch build: buffer = the ≤ k smallest distinct values seen,
    * ascending. Replaces the `distinct()` + bottom-k pair: the global
    * k smallest distinct values are fully determined by each
    * partition's k smallest distinct values, so merge (union, dedup,
    * truncate) is associative and commutative and Spark runs it with
    * map-side partials — the shuffle carries O(groups × partitions × k)
    * rows where the distinct() spelling exchanged every distinct
    * (group, value) pair (corpus-shingle-sized at the q176 shape). */
  class BottomKDistinctAgg(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    override def zero: Seq[Long] = Seq.empty

    override def reduce(b: Seq[Long], v: Long): Seq[Long] = {
      val n = b.length
      if (n >= k && b(n - 1) <= v) b // v can't enter a full buffer
      else {
        // the buffer is kept ascending: binary-search the insertion
        // point (O(log k) membership + one O(k) positional copy per
        // surviving row, replacing the linear contains + full re-sort)
        val a = b.toArray
        var lo = 0
        var hi = n
        var dup = false
        while (lo < hi && !dup) {
          val mid = (lo + hi) >>> 1
          val m = a(mid)
          if (m == v) dup = true
          else if (m < v) lo = mid + 1
          else hi = mid
        }
        if (dup) b
        else {
          val outLen = math.min(n + 1, k)
          val out = new Array[Long](outLen)
          System.arraycopy(a, 0, out, 0, math.min(lo, outLen))
          if (lo < outLen) {
            out(lo) = v
            System.arraycopy(a, lo, out, lo + 1, outLen - lo - 1)
          }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
        }
      }
    }

    override def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      (a ++ b).distinct.sorted.take(k)

    override def finish(r: Seq[Long]): Seq[Long] = r

    override def bufferEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** Bottom-k distinct as a `Column`: array<long> ascending. */
  def bottomKDistinctOf(k: Int, v: Column): Column = {
    udaf(new BottomKDistinctAgg(k)).apply(v)
  }

  /** One-pass per-cell centroids — the scale path for
    * [[graft.llm.Similarity.centroids]] (same values, un-exploded layout;
    * equality asserted in DedupSpec). */
  def centroidsOnePass(vectors: DataFrame, cellCol: String): DataFrame =
    vectors.groupBy(col(cellCol).as("cell"))
      .agg(centroidOf(col("embedding")).as("centroid"), count(lit(1)).as("n_vecs"))
}
