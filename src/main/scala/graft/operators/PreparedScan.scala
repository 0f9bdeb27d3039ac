package graft.operators

import graft.functions.JobQuery
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One (IVF snapshot, filter)'s search scans. `scored` is the snapshot's
  * serving rows ∩ the filter plus `score`, whose query vector is a
  * [[JobQuery]] leaf, analyzed once; `restrict(scored, cells)` narrows it
  * to some cells (None = all) and projects the result columns.
  *
  * What a search costs follows what repeats. A key's FIRST search — a
  * one-off filter, or the first search after a write — plans one scan
  * over just its probed cells, as a per-query plan would. From its
  * second search on, each probed cell's scan is compiled once, on first
  * use, and kept; a search is then ONE job over the probed cells'
  * compiled partitions, with no analysis, optimization, codegen or
  * closure cleaning of the scan. A plan that is not [[reusable]] (or an
  * entry not kept, `cached` = false) is planned afresh for every search.
  */
private[graft] final class PreparedScan(cached: Boolean,
    scoredFrame: () => DataFrame,
    restrict: (DataFrame, Option[Seq[Int]]) => DataFrame,
    onCellCompiled: () => Unit) {

  lazy val scored: DataFrame = scoredFrame()

  /** Whether compiled scans may serve more than one search. */
  private lazy val reusable =
    cached && org.apache.spark.sql.graft.Bridge.reusablePlan(scored)

  private val searched = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[Int, PreparedScan.Cell]()

  /** Cell `c`'s compiled scan; compiled on first use, once however many
    * searches ask for it at the same time.
    */
  def cell(c: Int): PreparedScan.Cell =
    cells.computeIfAbsent(c, c => new PreparedScan.Cell(() => {
      onCellCompiled()
      restrict(scored, Some(Seq(c)))
    }))

  /** The top `k` rows over `probed` (None = every cell, `all`) scored
    * against `query`, best first.
    */
  def topK(spark: SparkSession, query: Array[Float], k: Int,
      probed: Option[Seq[Int]], all: Seq[Int]): DataFrame =
    if (searched.getAndSet(true) && reusable && probed.forall(_.nonEmpty)) {
      val compiled = probed.getOrElse(all).distinct.map(cell)
      PreparedScan.topK(spark, compiled.map(_.rdd), compiled.head.df.schema,
        query, k)
    } else {
      val df = restrict(scored, probed)
      PreparedScan.topK(spark, Seq(df.queryExecution.toRdd), df.schema,
        query, k)
    }
}

private[graft] object PreparedScan {

  /** The job-local property carrying the query vector. */
  val QueryProperty = "graft.ivf.query"

  /** The query-vector leaf every prepared plan scores against. */
  def queryVector: JobQuery = JobQuery(QueryProperty, summed = false)
  def querySum: JobQuery = JobQuery(QueryProperty, summed = true)

  /** One cell's scan: its frame and the compiled RDD, built on first use. */
  final class Cell(frame: () => DataFrame) {
    lazy val df: DataFrame = frame()
    lazy val rdd: RDD[InternalRow] = df.queryExecution.toRdd
  }

  /** The top `k` rows of `rdds` (rows of `schema`, `score` a double)
    * scored against `query`, in ONE job: a bounded heap per partition,
    * the k-way merge on the driver, the ≤ k rows back as a local frame.
    * Ties at equal score break on the row bytes, so repeated searches
    * return identical rows.
    */
  def topK(spark: SparkSession, rdds: Seq[RDD[InternalRow]],
      schema: org.apache.spark.sql.types.StructType, query: Array[Float],
      k: Int): DataFrame = {
    val scoreOrdinal = schema.fieldIndex("score")
    require(schema(scoreOrdinal).dataType == DoubleType,
      s"prepared score must be double, got ${schema(scoreOrdinal).dataType}")
    val sc = spark.sparkContext
    val rdd = if (rdds.size == 1) rdds.head else sc.union(rdds)
    val rows =
      if (k <= 0 || rdd.getNumPartitions == 0) Array.empty[UnsafeRow]
      else {
        val prior = sc.getLocalProperty(QueryProperty)
        sc.setLocalProperty(QueryProperty, JobQuery.encode(query))
        val tops =
          try sc.runJob(rdd, new PartitionTopK(k, scoreOrdinal))
          finally sc.setLocalProperty(QueryProperty, prior)
        val all = tops.flatten
        java.util.Arrays.sort(all, ranking(scoreOrdinal))
        all.take(k)
      }
    org.apache.spark.sql.graft.Bridge.localFrame(spark, schema, rows.toSeq)
  }

  /** Best first: score descending (NaN highest, null last, −0.0 = 0.0,
    * as Spark's `desc` orders doubles), then the row's bytes — a total
    * order on content, independent of file layout and partitioning.
    */
  def ranking(o: Int): java.util.Comparator[UnsafeRow] =
    new java.util.Comparator[UnsafeRow] {
      def compare(a: UnsafeRow, b: UnsafeRow): Int = {
        val an = a.isNullAt(o); val bn = b.isNullAt(o)
        val c =
          if (an || bn) java.lang.Boolean.compare(an, bn)
          else {
            val x = a.getDouble(o); val y = b.getDouble(o)
            if (x == y) 0 else java.lang.Double.compare(y, x)
          }
        if (c != 0) c else bytes(a, b)
      }
    }

  private def bytes(a: UnsafeRow, b: UnsafeRow): Int = {
    import org.apache.spark.unsafe.Platform
    val n = math.min(a.getSizeInBytes, b.getSizeInBytes)
    var i = 0
    while (i < n) {
      val x = Platform.getByte(a.getBaseObject, a.getBaseOffset + i) & 0xff
      val y = Platform.getByte(b.getBaseObject, b.getBaseOffset + i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    a.getSizeInBytes - b.getSizeInBytes
  }
}

/** A partition's best `k` rows under [[PreparedScan.ranking]]. A named
  * top-level class rather than a lambda: `runJob` hands its function to
  * the ClosureCleaner, which ASM-parses a lambda's enclosing class file on
  * every job — for a lambda inside VectorSearch.scala that parse was a
  * quarter of the per-query driver time.
  */
private[graft] final class PartitionTopK(k: Int, scoreOrdinal: Int)
    extends ((TaskContext, Iterator[InternalRow]) => Array[UnsafeRow])
    with Serializable {

  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[UnsafeRow] = {
    val rank = PreparedScan.ranking(scoreOrdinal)
    // head = the worst kept row
    val heap = new java.util.PriorityQueue[UnsafeRow](k, rank.reversed())
    while (rows.hasNext) {
      val r = rows.next().asInstanceOf[UnsafeRow]
      if (heap.size < k) heap.add(r.copy())
      else if (rank.compare(r, heap.peek()) < 0) {
        heap.poll()
        heap.add(r.copy())
      }
    }
    heap.toArray(new Array[UnsafeRow](0))
  }
}
