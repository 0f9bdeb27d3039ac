package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-buffer top-k aggregation: the scale answer to "top k rows per
  * group". The window formulation (`row_number().over(partitionBy(g)
  * .orderBy(v))` then `rn <= k`) shuffles and SORTS every row of every
  * group; this aggregator reduces each task's slice of a group to at most
  * `k` (value, id) pairs BEFORE the exchange (partial aggregation =
  * map-side combine), so the shuffle carries O(k × partitions) entries per
  * group and no sort of the full data ever happens — the same
  * per-partition-heap + merge idea `TakeOrderedAndProject` applies to
  * global top-k, packaged as a UDAF so it works per group.
  *
  * Ordering: value descending, id ascending on ties — deterministic given
  * unique ids. The buffer holds primitive arrays (no boxing on the hot
  * path) and compacts lazily at 4k entries, so update cost is O(1)
  * amortized and buffer memory is O(k).
  */
object GroupTopK {

  final case class In(v: Double, id: Long)

  final case class Entry(rank: Long, v: Double, id: Long)

  final case class Buf(var n: Int, var vs: Array[Double], var ids: Array[Long])

  def aggregator(k: Int): Aggregator[In, Buf, Seq[Entry]] = {
    require(k > 0)
    new Aggregator[In, Buf, Seq[Entry]] {

      override def zero: Buf = Buf(0, Array.empty, Array.empty)

      // total order (value desc, id asc) via Double.compare — a strict weak
      // ordering even for NaN (which ranks largest, matching Spark's sort
      // semantics for descending order)
      private def sortedIdx(b: Buf): Array[Int] =
        Array.range(0, b.n).sortWith { (i, j) =>
          val c = java.lang.Double.compare(b.vs(i), b.vs(j))
          if (c != 0) c > 0 else b.ids(i) < b.ids(j)
        }

      private def compact(b: Buf, keep: Int): Unit =
        if (b.n > keep) {
          val order = sortedIdx(b)
          val vs = new Array[Double](keep)
          val ids = new Array[Long](keep)
          var i = 0
          while (i < keep) { vs(i) = b.vs(order(i)); ids(i) = b.ids(order(i)); i += 1 }
          b.vs = vs; b.ids = ids; b.n = keep
        }

      private def ensure(b: Buf, extra: Int): Unit = {
        if (b.n + extra > b.vs.length) {
          val cap = math.max(math.max(4 * k, 8), b.n + extra)
          b.vs = java.util.Arrays.copyOf(b.vs, cap)
          b.ids = java.util.Arrays.copyOf(b.ids, cap)
        }
      }

      override def reduce(b: Buf, in: In): Buf = {
        if (b.n >= 4 * k) compact(b, k)
        ensure(b, 1)
        b.vs(b.n) = in.v; b.ids(b.n) = in.id; b.n += 1
        b
      }

      override def merge(a: Buf, c: Buf): Buf = {
        compact(a, k); compact(c, k)
        ensure(a, c.n)
        System.arraycopy(c.vs, 0, a.vs, a.n, c.n)
        System.arraycopy(c.ids, 0, a.ids, a.n, c.n)
        a.n += c.n
        a
      }

      override def finish(b: Buf): Seq[Entry] = {
        compact(b, k)
        sortedIdx(b).zipWithIndex.map { case (idx, r) =>
          Entry(r + 1L, b.vs(idx), b.ids(idx))
        }.toSeq
      }

      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]

      override def outputEncoder: Encoder[Seq[Entry]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
    }
  }

  /** Top `k` rows per group as (group, rank, value, id) — one hash
    * aggregation (partial+final), one exchange, zero Sort operators in the
    * plan. Requires unique `idCol` values for a deterministic tie order;
    * rows with a null value or id are excluded (a null can never be a
    * meaningful top-k member, and the primitive buffer carries no null
    * representation).
    */
  def perGroup(df: org.apache.spark.sql.DataFrame, groupCol: String,
      valueCol: String, idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val agg = udaf(aggregator(k))
    df.filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(agg(col(valueCol).cast("double"), col(idCol).cast("long")).as("__top"))
      .select(col(groupCol), explode(col("__top")).as("__e"))
      .select(col(groupCol), col("__e.rank").as("rank"),
        col("__e.v").as(valueCol), col("__e.id").as(idCol))
  }
}
