package graft.operators

import graft.functions.JobQuery
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One (IVF snapshot, filter)'s search scans. `serve` turns some of the
  * snapshot's rows into the result rows: tombstone exclusion, the filter
  * and `score`, whose query vector is a [[JobQuery]] leaf, with the layout
  * columns dropped. It serves either the stored rows of some cells
  * (`stored`, None = all, read from parquet) or one cell's resident rows
  * (`resident`, decoded once per snapshot and kept in the block manager —
  * see [[PreparedScan.Resident]]).
  *
  * What a search costs follows what repeats. A key's FIRST search — a
  * one-off filter, or the first search after a write — plans one scan
  * over just its probed cells' stored rows, as a per-query plan would.
  * From its second search on, each probed cell's scan is compiled once,
  * on first use, over that cell's resident rows, and kept; a search is
  * then ONE job over the probed cells' compiled partitions, with no
  * analysis, optimization, codegen or closure cleaning of the scan and,
  * once the cells are resident, no parquet decode. A plan that is not
  * [[reusable]] (or an entry not kept, `cached` = false) is planned
  * afresh over the stored rows for every search.
  */
private[graft] final class PreparedScan(cached: Boolean,
    serve: DataFrame => DataFrame,
    stored: Option[Seq[Int]] => DataFrame,
    resident: Int => PreparedScan.Resident,
    onCellCompiled: () => Unit) {

  /** Whether compiled scans may serve more than one search. */
  private lazy val reusable =
    cached && org.apache.spark.sql.graft.Bridge.reusablePlan(storedScan(None))

  private val searched = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val cells =
    new java.util.concurrent.ConcurrentHashMap[Int, PreparedScan.Cell]()

  /** The result rows of some cells' (None = all) stored rows, read from
    * parquet: what a key's first search and every search of a plan that
    * is not [[reusable]] run.
    */
  def storedScan(probed: Option[Seq[Int]]): DataFrame = serve(stored(probed))

  /** Cell `c`'s compiled scan over `resident(c)`; compiled on first use,
    * once however many searches ask for it at the same time, and again
    * if the rows have since gone back to parquet.
    */
  def cell(c: Int): PreparedScan.Cell = {
    val got = cells.computeIfAbsent(c, c => new PreparedScan.Cell(resident(c),
      rows => { onCellCompiled(); serve(rows) }))
    if (!got.stale) got
    else { cells.remove(c, got); cell(c) }
  }

  /** The top `k` rows over `probed` (None = every cell, `all`) scored
    * against `query`, best first.
    */
  def topK(spark: SparkSession, query: Array[Float], k: Int,
      probed: Option[Seq[Int]], all: Seq[Int]): DataFrame =
    if (searched.getAndSet(true) && reusable && probed.forall(_.nonEmpty)) {
      val compiled = probed.getOrElse(all).distinct.map(cell)
      val top = PreparedScan.topK(spark, compiled.map(_.rdd),
        compiled.head.df.schema, query, k)
      compiled.foreach(_.rows.settle())
      top
    } else {
      val df = storedScan(probed)
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

  /** One cell's scan of `rows`: its frame and the compiled RDD, built on
    * first use. `stale` once the rows it was compiled over have gone back
    * to parquet ([[Resident.settle]]).
    */
  final class Cell(val rows: Resident, compile: DataFrame => DataFrame) {
    private lazy val input: DataFrame = rows.frame
    lazy val df: DataFrame = compile(input)
    lazy val rdd: RDD[InternalRow] = df.queryExecution.toRdd
    def stale: Boolean = input ne rows.frame
  }

  /** One cell's decoded rows, resident in the block manager: `rows` (the
    * cell's stored rows) read once, each row copied (the parquet reader
    * reuses its row buffer) and the RDD persisted `MEMORY_ONLY` under
    * `name`, so the first job that reads the cell fills it and later jobs
    * read rows from memory — no file open, footer, column index or
    * nested-list decode. A partition the MemoryStore evicts later is
    * recomputed from parquet. `release()` unpersists them (non-blocking).
    *
    * Whether a cell stays resident is measured: after the first job that
    * read it ([[settle]]), a cell whose partitions did not all get stored
    * (`stored` false: storage memory too small for it, or full) is
    * unpersisted and read from parquet, `rows` itself, by every later
    * search, because reading through a failed store costs every read a
    * copy of every full row on top of the decode (perfbench `search`
    * rounds ran 25 % slower than without residency with 5.5 MB of
    * storage memory, 4-vCPU VM, `local[2]`). So is a cell asked for
    * after `release()`.
    */
  final class Resident(rows: () => DataFrame, name: String,
      stored: RDD[_] => Boolean) {
    private var src: DataFrame = null
    private var persisted: RDD[InternalRow] = null
    private var current: DataFrame = null
    private var settled = false
    private var released = false

    /** What a compiled scan of the cell reads now: the persisted rows
      * as a `LogicalRDD`, or the stored rows.
      */
    def frame: DataFrame = synchronized {
      if (current == null) {
        src = rows()
        current =
          if (released) src
          else {
            persisted = src.queryExecution.toRdd.map(_.copy()).setName(name)
              .persist(StorageLevel.MEMORY_ONLY)
            org.apache.spark.sql.graft.Bridge.rddFrame(src.sparkSession,
              persisted, src.schema)
          }
      }
      current
    }

    /** Called after a job that read [[frame]]: the first time, keep the
      * cell resident only if every partition got stored.
      */
    def settle(): Unit = synchronized {
      if (!settled && persisted != null) {
        settled = true
        if (!stored(persisted)) {
          persisted.unpersist(blocking = false)
          persisted = null
          current = src
        }
      }
    }

    def release(): Unit = synchronized {
      released = true
      if (persisted != null) persisted.unpersist(blocking = false)
      ()
    }
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
