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
    * scored against `query`, in ONE job ([[groupTopK]] with one group),
    * the ≤ k rows back as a local frame. Ties at equal score break on the
    * row bytes, so repeated searches return identical rows.
    */
  def topK(spark: SparkSession, rdds: Seq[RDD[InternalRow]],
      schema: org.apache.spark.sql.types.StructType, query: Array[Float],
      k: Int): DataFrame = {
    val scoreOrdinal = schema.fieldIndex("score")
    require(schema(scoreOrdinal).dataType == DoubleType,
      s"prepared score must be double, got ${schema(scoreOrdinal).dataType}")
    val sc = spark.sparkContext
    val rdd = if (rdds.size == 1) rdds.head else sc.union(rdds)
    val prior = sc.getLocalProperty(QueryProperty)
    sc.setLocalProperty(QueryProperty, JobQuery.encode(query))
    val rows =
      try groupTopK(spark, rdd, TopKOrder(k, scoreOrdinal)).head
      finally sc.setLocalProperty(QueryProperty, prior)
    org.apache.spark.sql.graft.Bridge.localFrame(spark, schema, rows.toSeq)
  }

  /** The best `order.k` rows of each group of `order` among `rdd`'s rows,
    * best first per group, in ONE job: each task fills its partition's
    * heaps ([[PartitionTopK]]) and the driver merges each task's heaps as
    * its result arrives, so the driver holds O(groups × k) rows whatever
    * the partition count.
    */
  def groupTopK(spark: SparkSession, rdd: RDD[InternalRow],
      order: TopKOrder): Array[Array[UnsafeRow]] = {
    val merged = new TopKHeaps(order)
    if (order.k > 0 && rdd.getNumPartitions > 0)
      spark.sparkContext.runJob(rdd, new PartitionTopK(order),
        0 until rdd.getNumPartitions,
        (_: Int, tops: Array[Array[UnsafeRow]]) => merged.merge(tops))
    Array.tabulate(order.groups)(merged.sorted)
  }
}

/** What [[TopKHeaps]] rank and how. The score sits at ordinal `score`:
  * a double (`queries` = 0: one group) or an array of `queries` doubles,
  * one per query. With `tiers` > 0 the int after it is the bitmask of the
  * tiers the row belongs to, and group = tier · queries + query. A null
  * score never ranks. Best first is score descending (NaN highest, −0.0 =
  * 0.0, as Spark's `desc` orders doubles); ties break on the string at
  * ordinal `tieId` ascending (when ≥ 0), then on the row's bytes — a
  * total order on content, independent of file layout and partitioning.
  */
private[graft] final case class TopKOrder(k: Int, score: Int,
    queries: Int = 0, tiers: Int = 0, tieId: Int = -1) {
  require(tiers <= 32, s"at most 32 tiers fit the int bitmask, got $tiers")
  def groups: Int = math.max(queries, 1) * math.max(tiers, 1)
}

/** One bounded heap per group of `order`, each keeping the group's best
  * `order.k` rows. A task fills one from its partition ([[add]]); the
  * driver folds each task's [[sorted]] rows into one ([[merge]]).
  */
private[graft] final class TopKHeaps(order: TopKOrder) {
  import TopKHeaps._
  private val k = math.max(order.k, 0)
  private val best: java.util.Comparator[Kept] = (a, b) =>
    if (a.key != b.key) java.lang.Long.compare(b.key, a.key) else tie(a.row, b.row)
  // head = the worst kept row
  private val heaps = Array.fill(order.groups)(
    new java.util.PriorityQueue[Kept](math.max(1, math.min(k, 16)), best.reversed()))

  /** Offer a scanned row to every group it belongs to, copying it once
    * (the scan reuses its row buffer) if any keeps it.
    */
  def add(row: UnsafeRow): Unit = {
    val tiers = if (order.tiers > 0) row.getInt(order.score + 1) else 1
    var kept: UnsafeRow = null
    var q = 0
    while (q < math.max(order.queries, 1)) {
      val key = keyAt(row, q)
      var m = if (key == Null) 0 else tiers
      while (m != 0) {
        val g = Integer.numberOfTrailingZeros(m) * order.queries + q
        if (admits(g, key, row)) {
          if (kept == null) kept = row.copy()
          insert(g, Kept(key, kept))
        }
        m &= m - 1
      }
      q += 1
    }
  }

  /** Fold in another set of heaps' rows, per group. */
  def merge(tops: Array[Array[UnsafeRow]]): Unit =
    for (g <- tops.indices; r <- tops(g)) {
      val key = keyAt(r, g % math.max(order.queries, 1))
      if (admits(g, key, r)) insert(g, Kept(key, r))
    }

  /** Group `g`'s kept rows, best first. */
  def sorted(g: Int): Array[UnsafeRow] =
    heaps(g).toArray(Array.empty[Kept]).sortWith(best.compare(_, _) < 0).map(_.row)

  // row `r`'s score for query `q` as an order key, Null when null
  private def keyAt(r: UnsafeRow, q: Int): Long =
    if (order.queries == 0)
      if (r.isNullAt(order.score)) Null else keyOf(r.getDouble(order.score))
    else {
      val s = r.getArray(order.score)
      if (s.isNullAt(q)) Null else keyOf(s.getDouble(q))
    }

  private def tie(a: UnsafeRow, b: UnsafeRow): Int = {
    val c =
      if (order.tieId < 0) 0
      else a.getUTF8String(order.tieId).compareTo(b.getUTF8String(order.tieId))
    if (c != 0) c else bytes(a, b)
  }

  private def admits(g: Int, key: Long, r: UnsafeRow): Boolean =
    heaps(g).size < k || {
      val worst = heaps(g).peek
      key > worst.key || key == worst.key && tie(r, worst.row) < 0
    }

  private def insert(g: Int, kept: Kept): Unit = {
    if (heaps(g).size == k) heaps(g).poll()
    heaps(g).add(kept)
  }
}

private[graft] object TopKHeaps {

  final case class Kept(key: Long, row: UnsafeRow)

  /** The key of a null score: below every [[keyOf]]. */
  val Null: Long = Long.MinValue

  /** `d` as a long that orders as Spark's `desc` orders doubles when
    * compared descending: NaN highest, −0.0 = 0.0.
    */
  def keyOf(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    b ^ ((b >> 63) & Long.MaxValue)
  }

  def bytes(a: UnsafeRow, b: UnsafeRow): Int = {
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

/** A partition's [[TopKHeaps]] under `order`. A named top-level class
  * rather than a lambda: `runJob` hands its function to the
  * ClosureCleaner, which ASM-parses a lambda's enclosing class file on
  * every job — for a lambda inside VectorSearch.scala that parse was a
  * quarter of the per-query driver time.
  */
private[graft] final class PartitionTopK(order: TopKOrder)
    extends ((TaskContext, Iterator[InternalRow]) => Array[Array[UnsafeRow]])
    with Serializable {

  def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Array[Array[UnsafeRow]] = {
    val heaps = new TopKHeaps(order)
    while (rows.hasNext) heaps.add(rows.next().asInstanceOf[UnsafeRow])
    Array.tabulate(order.groups)(heaps.sorted)
  }
}
