package graft.operators

import graft.GraftConf
import graft.functions.{centroid_dist_at, vec_dot}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Filtered top-k vector search — the reference's marquee read operator
  * (reference `README.md:72-83`: metadata filter + dot-product score +
  * LIMIT k + narrow projection) — plus an IVF index for sub-scan retrieval.
  *
  * Plan shape (why this scales): `filter → score → orderBy(desc).limit(k)`
  * is planned by Catalyst as `TakeOrderedAndProject` over the scan — each
  * partition keeps a k-element heap and only k rows per partition reach the
  * driver. The embedding column is never shuffled; the filter and the narrow
  * projection push into the parquet reader. At 10M×2688 (243 GB) this is one
  * pass over only the row groups the predicate admits.
  *
  * The IVF index adds the scale path: cluster once (KMeans on a sample),
  * write the table partitioned by cluster id, and probe only the `nprobe`
  * clusters nearest the query — partition pruning turns top-k into a read of
  * `nprobe/k` of the data, the standard recall/latency trade (reference
  * requires recall > 0.9, `README.md:76`).
  */
object VectorSearch {

  /** The TAIL segment's partition value: streaming appends
    * ([[IvfIndex.appendTail]]) land as whole-batch files under
    * `__cluster=-1` — one file per commit instead of one per touched
    * cell — and every search reads `planned cells ∪ tail` until
    * [[IvfIndex.compactTail]] migrates the rows into their real cells
    * (the LSM shape: a small always-scanned growing segment keeps the
    * write path O(1) files; the sealed per-cell layout keeps probes
    * pruned). Never a valid cell id: assignment kernels return
    * `[0, numClusters)`.
    */
  private[graft] val TailCell: Int = -1

  /** Prepared scans an [[IvfIndex]] keeps (one per live filter of the
    * current snapshot); the least recently used one is dropped past it.
    */
  private[graft] val preparedScansPerHandle: Int = 16

  /** Exact filtered top-k by dot product. Returns `projection` columns plus
    * `score`, highest first; `k` ≤ 0 returns no rows.
    */
  def topK(df: DataFrame, vecCol: String, query: Array[Float], k: Int,
      filter: Option[Column] = None, projection: Seq[String] = Seq.empty): DataFrame = {
    val filtered = filter.map(df.filter).getOrElse(df)
    val scored = filtered.withColumn("score", vec_dot(col(vecCol), typedLit(query)))
    val projected =
      if (projection.isEmpty) scored
      else scored.select(projection.map(col) :+ col("score"): _*)
    projected.orderBy(desc("score")).limit(math.max(k, 0))
  }

  /** Exact filtered top-k for MULTIPLE query vectors in ONE scan — the
    * batch-evaluation shape (recall sweeps, query workloads): where Q
    * separate [[topK]] calls decode the vector column Q times, this scores
    * every query against each row in a single pass and keeps a bounded
    * heap per query ([[groupedRows]]), so the scan+decode — the dominant
    * cost at wide dims — is paid once, in one job with no shuffle. Each
    * task hands the driver at most Q × k rows.
    *
    * Returns (`query_id` = index into `queries`, `rank` 1-based, `score`,
    * `idCol` as string) as a local frame. Ties break on the id's string
    * order, which can differ from [[topK]]'s arbitrary tie order —
    * recall/set consumers are unaffected. Rows with a null score or id
    * never rank; `k` ≤ 0 returns no rows.
    */
  def topKMulti(df: DataFrame, vecCol: String, queries: Seq[Array[Float]],
      k: Int, idCol: String, filter: Option[Column] = None): DataFrame =
    topKMultiScored(df, q => vec_dot(col(vecCol), typedLit(q)), queries, k,
      idCol, filter)

  /** [[topKMulti]] with a caller-supplied per-query score column — the
    * storage-mode seam: an SQ8 index scores the same one-scan
    * bounded-heap shape over its code algebra instead of a float dot.
    */
  private[graft] def topKMultiScored(df: DataFrame,
      scoreOf: Array[Float] => Column, queries: Seq[Array[Float]],
      k: Int, idCol: String, filter: Option[Column] = None): DataFrame =
    multiResult(df.sparkSession, idCol, queries.length, tiered = false,
      groupedRows(multiScan(df, scoreOf, queries, idCol, filter),
        queries.length, 0, k))

  /** The rows [[topKMultiScored]] ranks: the id as a string and every
    * query's score (`__s`) — its plan is what plan-shape specs audit.
    */
  private[graft] def multiScan(df: DataFrame,
      scoreOf: Array[Float] => Column, queries: Seq[Array[Float]],
      idCol: String, filter: Option[Column]): DataFrame = {
    require(queries.nonEmpty)
    filter.map(df.filter).getOrElse(df)
      .select(col(idCol).cast("string").as(idCol), scoreArray(queries.map(scoreOf)))
  }

  /** [[topKMulti]] for MULTIPLE predicate tiers in ONE scan — the
    * eval-harness shape (r18, guide §2.4/§6): T separate `topKMulti(pred)`
    * calls scan the table T times and re-score every query dot against
    * rows that several tiers share (the recall tiers nest: a row matching
    * the thinnest tier pays its Q dots in every pass). This scores each
    * row's Q dots ONCE, marks the tiers whose predicate the row satisfies
    * in an int bitmask, and keeps one bounded heap per (tier, query) —
    * same per-group results and tie order as the per-tier calls (each
    * heap sees the same (score, id) set either way), one scan instead of
    * T. At most 32 tiers.
    *
    * Returns (`tier_id` = index into `preds`, `query_id`, `rank`, `score`,
    * `idCol` as string) as a local frame.
    */
  def topKMultiTiered(df: DataFrame, vecCol: String,
      queries: Seq[Array[Float]], k: Int, idCol: String,
      preds: Seq[Column]): DataFrame = {
    require(queries.nonEmpty && preds.nonEmpty)
    // rows matching no tier are dropped before any dot is computed
    val tiers = preds.zipWithIndex
      .map { case (p, i) => when(p, lit(1 << i)).otherwise(lit(0)) }
      .reduce(_ bitwiseOR _)
    val scan = df.filter(preds.reduce(_ || _))
      .select(col(idCol).cast("string").as(idCol),
        scoreArray(queries.map(q => vec_dot(col(vecCol), typedLit(q)))),
        tiers.as("__tiers"))
    multiResult(df.sparkSession, idCol, queries.length, tiered = true,
      groupedRows(scan, queries.length, preds.length, k))
  }

  private def scoreArray(scores: Seq[Column]): Column =
    array(scores.map(_.cast("double")): _*).as("__s")

  /** The best `k` rows of `scan` per group, best first, in ONE job
    * ([[PreparedScan.groupTopK]]). `scan`'s columns are the id (a string),
    * `__s` (one double per query; null = not a candidate of that query)
    * and, for `tiers` > 0, `__tiers` (the int bitmask of the row's tiers);
    * group = tier · queries + query. Ties break on the id string
    * ascending; rows with a null id never rank.
    */
  private def groupedRows(scan: DataFrame, queries: Int, tiers: Int,
      k: Int): Array[Array[UnsafeRow]] =
    PreparedScan.groupTopK(scan.sparkSession,
      scan.filter(col(scan.columns.head).isNotNull).queryExecution.toRdd,
      TopKOrder(k, score = 1, queries = queries, tiers = tiers, tieId = 0))

  /** [[groupedRows]]' result as (`tier_id` when `tiered`,) `query_id`,
    * `rank` (1-based), `score`, `idName`: a local frame.
    */
  private def multiResult(spark: SparkSession, idName: String,
      queries: Int, tiered: Boolean,
      tops: Array[Array[UnsafeRow]]): DataFrame = {
    val fields = Seq(StructField("query_id", IntegerType, nullable = false),
      StructField("rank", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField(idName, StringType))
    val schema = StructType(
      if (tiered) StructField("tier_id", IntegerType, nullable = false) +: fields
      else fields)
    val rows = tops.indices.flatMap { g =>
      val q = g % queries
      tops(g).toSeq.zipWithIndex.map { case (r, i) =>
        val row = Seq(q, i + 1L, r.getArray(1).getDouble(q), r.getUTF8String(0))
        InternalRow.fromSeq(if (tiered) (g / queries) +: row else row)
      }
    }
    org.apache.spark.sql.graft.Bridge.localFrame(spark, schema, rows)
  }

  /** An IVF (inverted-file) coarse quantizer: rows bucketed by nearest
    * KMeans centroid, stored as cluster-partitioned parquet.
    *
    * `baselineDist` is the build-time mean squared-L2 distance of vectors
    * to their assigned centroid (NaN when the index predates the probe) —
    * the yardstick [[driftRatio]] measures centroid drift against.
    *
    * `radii` (max assigned distance) and `rmsRadii` (root-mean-square
    * assigned distance) are aggregated from the written `__dist` stats
    * column over the FULL index, so `cellCounts` are exact per-cell
    * sizes — the weights [[append]]'s count-weighted RMS merge wants —
    * and the max radius is admissible for EVERY row, not just the
    * sampled ones. `occupancy` maps each registered categorical
    * column to its per-(cluster, value) row counts over the FULL index —
    * the driver-side source for [[probePlan]]'s filtered match counts
    * ([[buildIvf]]'s `occupancyCols`; [[append]] keeps it current);
    * `occupancyTypes` records each registered column's Spark type
    * (catalog string) so the lookup can refuse literals whose JVM type
    * would render differently than the column's cast-to-string values.
    *
    * A plain class, not a case class: the handle's serving state (tuning,
    * census, schema, tombstones, resident cells) lives outside the
    * constructor, and a generated `copy` would silently reset all of it.
    * Serializable because handles ride through task closures.
    */
  final class IvfIndex(val path: String, val centroids: Array[Array[Float]],
      val baselineDist: Double = Double.NaN,
      val radii: Array[Double] = Array.empty,
      val rmsRadii: Array[Double] = Array.empty,
      val cellCounts: Array[Long] = Array.empty,
      occupancy: Map[String, Map[(Int, String), Long]] = Map.empty,
      val occupancyTypes: Map[String, String] = Map.empty)
      extends Serializable {

    // occupancy evolves with append(); the ctor param is the build-time
    // snapshot, reads go through occupancyTable
    @volatile private var occupancyNow: Map[String, Map[(Int, String), Long]] =
      occupancy

    /** This handle's serving and maintenance knobs
      * ([[IvfIndex.Tuning]]). Handle-scoped, so a forced-switch query
      * cannot race a concurrently planned probe on another handle;
      * [[rebalance]] carries it into the handle it returns.
      */
    @volatile var tuning: IvfIndex.Tuning = IvfIndex.Tuning()
    @transient private var appendsSinceCheckpoint: Int = 0

    /** [[append]]/[[appendTail]] checkpoint step: count the append and
      * persist the manifest when this handle's cadence
      * ([[IvfIndex.Tuning.checkpointEvery]]) is due.
      */
    private def checkpointOnCadence(spark: SparkSession): Unit = {
      val every = tuning.checkpointEvery(centroids.length)
      appendsSinceCheckpoint += 1
      if (every > 0 && appendsSinceCheckpoint >= every) {
        saveManifest(spark)
        appendsSinceCheckpoint = 0
      }
    }

    /** Current per-(cluster, value) occupancy per registered column —
      * build-time table plus every batch folded in by [[append]].
      */
    private[graft] def occupancyTable: Map[String, Map[(Int, String), Long]] =
      occupancyNow

    /** Rows in the streaming TAIL segment — files under the
      * `__cluster=-1` partition that [[appendTail]] writes and
      * [[compactTail]] folds away. `null` = unknown (fresh load,
      * deserialized handle, external writer): recomputed on demand by
      * [[tailRowsNow]]. A boxed Long because `@transient` fields
      * deserialize to JVM defaults and a primitive 0 would silently
      * read as "no tail".
      */
    @transient @volatile private var tailRowsKnown: java.lang.Long = null

    /** Serializes the WRITE-SIDE driver-state transitions — tail
      * appends, and the commit sections of compaction/rebalance — so a
      * background maintenance worker ([[graft.streaming.UpsertStream
      * .runIndexIngest]]) can fold the tail or split a hot cell while
      * the ingest keeps committing. The expensive maintenance phases
      * (assignment, stage writes, sample collects) run OUTSIDE the
      * lock against frozen file lists that concurrent tail appends
      * never touch (appends only ADD `__cluster=-1` files; maintenance
      * only MOVES the files it listed); the lock guards the sub-second
      * parts: epoch/journal/replay, census + stats folds, manifest
      * saves. Readers are lock-free (immutable snapshots via
      * volatiles); a search in flight across a replay follows the
      * scrub/vacuum retry contract.
      */
    @transient private lazy val maintLock = new Object

    /** Whether any tail files exist — jobless: the census answers from
      * driver memory; without one, a single directory probe.
      */
    private def tailPresent(spark: SparkSession): Boolean = censusOpt match {
      case Some((_, _, files)) => files.exists(_.cluster == VectorSearch.TailCell)
      case None =>
        import org.apache.hadoop.fs.Path
        val d = new Path(path, s"__cluster=${VectorSearch.TailCell}")
        try d.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(d)
        catch { case _: Exception => false }
    }

    /** Exact tail row count, memoized. First call after a fresh load of
      * an index WITH a tail runs one footer-only count over the tail
      * partition; tail-less indexes answer jobless.
      */
    private[graft] def tailRowsNow(spark: SparkSession): Long = {
      val t = tailRowsKnown
      if (t != null) t.longValue()
      else {
        val v =
          if (!tailPresent(spark)) 0L
          else indexDf(spark)
            .filter(col("__cluster") === VectorSearch.TailCell).count()
        tailRowsKnown = java.lang.Long.valueOf(v)
        v
      }
    }

    /** Radius used for probe ORDERING: the RMS radius when the build
      * recorded one, else the max radius. RMS is the robust choice —
      * the r6 probe-order lab (SCALE.md) measured the max-of-sample
      * bound ranking ~128 junk cells (few members, outlier-driven radii)
      * ahead of every cell holding a true hit at fine granularity,
      * because a single sampled outlier inflates a near-empty cell's max
      * while barely moving its RMS. The price is admissibility:
      * `q·c + r_rms·|q|` is a ranking score, not an upper bound on the
      * cell's achievable dot — recall at a given nprobe is governed by the
      * ordering quality plus the filter-aware ≥ k widening, which is the
      * trade an IVF probe makes anyway (nprobe < numClusters is already
      * not exact).
      */
    private def routingRadii: Array[Double] =
      if (rmsRadii.nonEmpty) rmsRadii else radii

    /** Cluster ids in probe order for a DOT-PRODUCT search: ranked by
      * `q·c + r_c·|q|` descending, where `r_c` is the cell's routing
      * radius ([[routingRadii]]) — with the max radius this is the
      * standard MIPS achievable-dot bound (for any member x,
      * q·x = q·c + q·(x−c) ≤ q·c + |q|·|x−c| ≤ q·c + |q|·r_max); with the
      * default RMS radius it is the robust version of the same score.
      *
      * Why neither simpler ordering is right:
      *   - raw dot `q·c` ignores cell EXTENT: centroid norms track cluster
      *     tightness (a diffuse cell's mean has a small norm), so
      *     dot-ordering ranks tight cells first and can put the query's
      *     own — diffuse — cell dead last (measured: recall 0.0 at
      *     nprobe 8/16 on a 16-cell index whose own-cell probe found
      *     everything);
      *   - pure assignment distance `|q−c|` ignores where the HIGH-DOT
      *     corner of a cell lies: when KMeans subdivides an aligned
      *     cluster, the top-dot rows concentrate in the subcell along the
      *     query direction, which L2-ordering ranks no earlier than its
      *     siblings (measured: recall 0.5 at nprobe k/3 on the subdivided
      *     fixture).
      * The radius term subsumes both: equal-radius cells rank by dot,
      * equal-dot cells by extent. An index constructed without radii
      * degrades to raw-dot ordering.
      */
    def nearestClusters(query: Array[Float], nprobe: Int): Seq[Int] = {
      val k = centroids.length
      val n = math.min(nprobe, k)
      if (n <= 0) return Seq.empty
      val qNorm = math.sqrt(dotLocal(query, query))
      val rr = routingRadii
      // primitive score pass + bounded heap selection (O(k log nprobe)) —
      // at the 65536-cell cap the tuple-boxed sortBy formulation measured
      // 192 ms/query (r8 routing lab) with the dot products themselves
      // ~60 ms; the selection must not dominate the arithmetic
      val ids = new Array[Int](k)
      val scores = new Array[Double](k)
      var i = 0
      while (i < k) {
        val r = if (i < rr.length) rr(i) else 0.0
        ids(i) = i
        scores(i) = dotLocal(centroids(i), query) + r * qNorm
        i += 1
      }
      selectTopIds(ids, scores, n)
    }

    /** Heap-select the `n` best of (ids, scores) pairs, highest score
      * first; ties keep the LOWER cluster id first (matching the stable
      * descending sort this replaces, so probe order stays deterministic).
      */
    private def selectTopIds(ids: Array[Int], scores: Array[Double],
        n0: Int): Seq[Int] = {
      val n = math.min(n0, ids.length)
      if (n <= 0) return Seq.empty
      // min-heap of positions into (ids, scores)
      val heap = new java.util.PriorityQueue[Integer](n,
        (a: Integer, b: Integer) => {
          val c = java.lang.Double.compare(scores(a), scores(b))
          if (c != 0) c else Integer.compare(ids(b), ids(a))
        })
      var j = 0
      while (j < ids.length) {
        if (heap.size < n) heap.add(j)
        else {
          val worst = heap.peek()
          if (scores(j) > scores(worst) ||
              (scores(j) == scores(worst) && ids(j) < ids(worst))) {
            heap.poll(); heap.add(j)
          }
        }
        j += 1
      }
      val out = new Array[Int](heap.size)
      var p = heap.size - 1
      while (p >= 0) { out(p) = ids(heap.poll()); p -= 1 }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }

    /** Build-path provenance, set by [[VectorSearch.buildIvf]] on the
      * handle it returns (false on loaded/constructed handles): whether
      * the build's fit took the hierarchical path and whether assignment
      * ran the two-level grouped kernel. Fixture queries assert these so
      * an oracle match provably exercised the production ≥512-cell
      * machinery.
      */
    @volatile private[graft] var builtWithHierarchicalFit: Boolean = false
    @volatile private[graft] var builtWithGroupedAssign: Boolean = false

    // Cost-based switch telemetry: search/searchMulti calls that ran the
    // exact pre-filtered scan because the planned probe volume crossed
    // the handle's Tuning.exactScanFraction — eval artifacts record the
    // chosen path per tier from this counter's deltas.
    @transient private val exactSwitches =
      new java.util.concurrent.atomic.AtomicLong()
    private[graft] def exactSwitchCount: Long = exactSwitches.get()

    // Prepared-scan telemetry: how many (snapshot, filter) entries
    // [[search]] created, how many real cells its jobs read (the tail
    // excluded) and how many cell scans it compiled — reuse, pruning and
    // compile work, from deltas.
    @transient private val preparedScanBuilds =
      new java.util.concurrent.atomic.AtomicLong()
    private[graft] def preparedScanBuildCount: Long = preparedScanBuilds.get()
    @transient private val cellsProbed =
      new java.util.concurrent.atomic.AtomicLong()
    private[graft] def cellsProbedCount: Long = cellsProbed.get()
    @transient private val cellScanBuilds =
      new java.util.concurrent.atomic.AtomicLong()
    private[graft] def cellScanBuildCount: Long = cellScanBuilds.get()

    // Thin-support telemetry: probePlan calls whose filter engaged the
    // support scan (ALL match-bearing cells planned — recall 1.0 by
    // construction). q119 and eval artifacts pin plan provenance on
    // this counter's deltas, mirroring exactSwitchCount.
    @transient private val thinSupportPlans =
      new java.util.concurrent.atomic.AtomicLong()
    private[graft] def thinSupportPlanCount: Long = thinSupportPlans.get()

    /** True when the exact pre-filtered scan is the cheaper (and
      * recall-1.0) path for the planned probe sets. Two terms, both pure
      * driver arithmetic over `cellCounts` (zero jobs), gated to indexes
      * at/above [[IvfIndex.Tuning.exactScanMinCells]] and disabled
      * when [[IvfIndex.Tuning.exactScanFraction]] is ≤ 0:
      *
      *   1. ROW-VOLUME (r10): the union holds ≥
      *      [[IvfIndex.Tuning.exactScanFraction]] of the index's rows
      *      — at that volume the probe is an isin/mask-encumbered
      *      near-full scan.
      *   2. WALL-AWARE (r14, `filtered` plans only): the plan's
      *      per-file fixed costs outweigh the extra rows exact streams —
      *      plannedCells × files/cell ×
      *      [[GraftConf.IvfProbeCellOverheadRows]] ≥ totalRows −
      *      plannedRows. Catches many-files-per-cell layouts where a
      *      wide fan-out read loses to one clean pushed pass (the conf's
      *      scaladoc carries the r14 calibration — including why the
      *      r13 "inversion" this term was commissioned for turned out
      *      to be first-call listing+count-scan cost, not a probe-read
      *      defect). Unfiltered probes never take it: an explicit
      *      `nprobe` is an approximation contract, and flipping it to a
      *      full scan would silently change the answer the caller asked
      *      for.
      */
    private[graft] def exactScanWins(spark: SparkSession,
        effective: Seq[Iterable[Int]], filtered: Boolean = false): Boolean = {
      val t = tuning
      val frac = t.exactScanFraction
      if (frac <= 0 || cellCounts.isEmpty ||
          centroids.length < t.exactScanMinCells) false
      else {
        val total = cellCounts.sum
        if (total <= 0L) false
        else {
          val union = scala.collection.mutable.BitSet.empty
          // BitSet cannot hold negatives; the tail pseudo-cell (−1) is
          // outside cellCounts and outside this arbitration anyway
          effective.foreach(_.iterator.filter(_ >= 0).foreach(union += _))
          val planned = union.iterator
            .map(c => if (c < cellCounts.length) cellCounts(c) else 0L).sum
          if (planned.toDouble >= frac * total) true
          else if (!filtered) false
          else {
            val co = GraftConf.IvfProbeCellOverheadRows.get(spark)
            co > 0 && planned < total &&
              union.size.toDouble * filesPerCell(spark) * co >=
                (total - planned).toDouble
          }
        }
      }
    }

    // Files-per-cell census for the wall-aware switch term: from the
    // persisted file census when the handle carries one (pure driver
    // arithmetic), else one listing via the cached relation
    // (InMemoryFileIndex memoizes it). Exchange-written layouts read ~1;
    // pre-exchange many-file layouts price their heavier per-cell read
    // accordingly. Invalidated with dfCache (append/refresh).
    @transient @volatile private var filesPerCellCache: Double = -1.0
    private def filesPerCell(spark: SparkSession): Double = {
      val c = filesPerCellCache
      if (c > 0) c
      else {
        val nFiles = censusOpt match {
          case Some((_, _, files)) => files.length.toDouble
          case None => indexDf(spark).inputFiles.length.toDouble
        }
        val v = math.max(1.0, nFiles / math.max(1, centroids.length))
        filesPerCellCache = v
        v
      }
    }

    // One relation per session, reused across searches: a fresh
    // `spark.read.parquet` re-lists the whole index directory tree
    // (clusters × tasks files) on EVERY query — at interactive query rates
    // the listing dominates the probe. Weak keys so stopped sessions (and
    // their cached file listings) stay GC-able. Invalidated by THIS
    // handle's [[append]]; appends through another handle or process
    // require [[refresh]] to become visible here — the freshness unit is
    // the handle, matching the snapshot semantics a reader wants anyway.
    @transient private lazy val dfCache =
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[SparkSession, DataFrame]())

    /** Persisted-file-census handle state (r15): (epoch, data schema,
      * files). When set, [[indexDf]] constructs the relation FROM it —
      * no directory listing, no footer read — which is what makes a
      * fresh process's first filtered search cost ~the warm cost
      * (plan_cold was 5.6–10.3 s of listing at 4k/8k files,
      * BENCH_scale_idx2m/idx4m_r14). Sources, in trust order:
      * [[buildIvf]] (extracted from the relation the stats pass just
      * read), [[IvfIndex.load]] (the manifest's census, admitted only
      * when its recorded epoch matches the index's current `_graft_epoch`
      * — see [[org.apache.spark.sql.graft.CensusIndex.readEpoch]]), or a
      * recapture off a real listing in [[indexDf]]. [[append]] and
      * [[refresh]] drop it (files changed); [[saveManifest]] persists
      * whatever the handle currently holds.
      */
    @transient @volatile private[graft] var censusNow0
        : Option[(Long, org.apache.spark.sql.types.StructType,
          Seq[org.apache.spark.sql.graft.CensusIndex.CensusFile])] = None

    /** The index's DATA-FILE schema, tracked independently of the census
      * (r16): the schema is a property of the FILES, not of census
      * freshness — the storage mode must survive a dropped/stale census.
      * Set by [[buildIvf]], [[IvfIndex.load]] (from the manifest,
      * epoch-independent) and [[indexDf]]'s recapture; persisted by
      * [[saveManifest]] even when the census itself is stale. Null-safe
      * accessor below (@transient deserializes to null).
      */
    @transient @volatile private[graft] var dataSchemaNow
        : org.apache.spark.sql.types.StructType = null

    private def dataSchemaOpt: Option[org.apache.spark.sql.types.StructType] =
      Option(dataSchemaNow).orElse(censusOpt.map(_._2))

    /** True when the known data schema carries the `__dist` stats column.
      * Every writer ([[buildIvf]], [[append]], [[appendTail]],
      * [[compactTail]], [[rebalance]]) writes it, so this is a check on
      * the files, not a switch.
      */
    private[graft] def hasDistColumn: Boolean =
      dataSchemaOpt.exists(_.fieldNames.contains("__dist"))

    /** True when the index's data files store int8 codes instead of the
      * float vector ([[buildIvf]] `storage = "sq8"`). Schema-derived —
      * like [[hasDistColumn]], a property of the files, persisted via
      * `dataSchemaJson` and independent of census freshness; no separate
      * manifest field to drift out of sync.
      */
    private[graft] def quantized: Boolean =
      dataSchemaOpt.exists(_.fieldNames.contains("__codes"))

    /** PQ codebooks + the id column the two serving phases join on —
      * set by [[buildIvf]] (storage = "pq") and [[IvfIndex.load]] (the
      * manifest's `pq` table). @transient vars on the census pattern:
      * driver-only state with null-safe reads everywhere.
      */
    @transient @volatile private[graft] var pqCodebooksNow
        : Array[Array[Array[Float]]] = null
    @transient @volatile private[graft] var pqIdColNow: String = null

    /** True when the layout carries PQ codes AND the handle has the
      * codebooks to score them — a pq-coded layout loaded without its
      * manifest `pq` table degrades gracefully to the sq8 serving path
      * (correct, just without the phase-1 byte cut).
      */
    private[graft] def pqMode: Boolean =
      pqCodebooksNow != null &&
        dataSchemaOpt.exists(_.fieldNames.contains("__pq"))

    // PQ phase-1 engagements — q122's provenance require()
    private val pqPhase1 = new java.util.concurrent.atomic.AtomicLong(0L)
    def pqPhase1Count: Long = pqPhase1.get()

    /** Tombstoned row ids (r16 deletes): (id column, string-cast id set).
      * Three-valued through null — null = not yet read from disk
      * (@transient deserialization, or a handle that has never looked),
      * None = known empty, Some = active tombstones. Ground truth lives
      * under `<path>/_graft_deletes` (underscore ⇒ invisible to the
      * index's own parquet scans), so a FRESH [[IvfIndex.load]] sees
      * deletes with no manifest checkpoint in between; this field is
      * only the per-handle cache of that directory.
      */
    @transient @volatile private[graft] var deletesNow0
        : Option[(String, Set[String])] = null

    private def tombstones(spark: SparkSession)
        : Option[(String, Set[String])] = {
      val d = deletesNow0
      if (d != null) d
      else {
        val read = IvfIndex.readTombstones(spark, path)
        deletesNow0 = read
        read
      }
    }

    /** Tombstoned-id count (diagnostic / provenance surface — q123). */
    def tombstoneCount(spark: SparkSession): Long =
      tombstones(spark).map(_._2.size.toLong).getOrElse(0L)

    /** Per-cell TOMBSTONED-row counts (r17) — the planning-side companion
      * to the tombstone set. [[matchCounts]]' sources (occupancy, memo,
      * count scan) are tombstone-INCLUSIVE, and an inclusive count does
      * not only widen probes: the ≥ k widening loop stops once the
      * cumulative count reaches its target, so counting rows the filter
      * can no longer return makes a plan stop EARLIER than live counts
      * would, and the thin-support classification (total ≤ thinFactor·k)
      * is missed for exactly the post-deletion filters that want it.
      * Subtracting a cell's tombstone count gives a LOWER bound on its
      * live matches (tombstoned rows matching the filter ≤ tombstoned
      * rows in the cell), which errs the safe way: probes widen at least
      * as far as live counts require and thin-support fires at least as
      * often, while cell MEMBERSHIP stays on the inclusive counts so a
      * cell holding any live match is never dropped. Persisted beside
      * the id set (`_graft_deletes/_celltombs.tsv` — the underscore
      * keeps it invisible to that dir's parquet read) and keyed to
      * (id count, census epoch): [[delete]] writes it, a fresh process
      * re-arms it without a job, and any key mismatch — an append under
      * active tombstones, an interrupted delete — falls back to one
      * pruned (id, cluster) scan that re-persists. Cleared with the
      * tombstones by [[scrub]] (the deletes dir is removed whole).
      */
    @transient @volatile private[graft] var cellTombsNow: Map[Int, Long] = null

    private[graft] def cellTombCounts(spark: SparkSession): Map[Int, Long] =
      tombstones(spark) match {
        case Some((idc, ids)) if ids.nonEmpty =>
          val cached = cellTombsNow
          if (cached != null) cached
          else {
            val epoch = org.apache.spark.sql.graft.CensusIndex
              .readEpoch(spark, path).getOrElse(0L)
            val read = IvfIndex.readCellTombs(spark, path)
              .collect { case (n, e, m) if n == ids.size && e == epoch => m }
              .getOrElse(
                computeAndPersistCellTombs(spark, idc, ids.size.toLong))
            cellTombsNow = read
            read
          }
        case _ => Map.empty
      }

    /** One pruned (id, cluster) scan joined against the persisted
      * tombstone ids → per-cell tombstone counts, re-persisted under the
      * current (nids, epoch) key. The tombstone side joins as a
      * file-based relation (auto-broadcast under the threshold), so this
      * never compiles an id-sized literal and never collects the index.
      */
    private def computeAndPersistCellTombs(spark: SparkSession,
        idc: String, nids: Long): Map[Int, Long] = {
      val tombIds = spark.read.parquet(deletesDir)
        .select(col("id")).distinct()
      val counts = indexDf(spark)
        .select(col(idc).cast("string").as("id"), col("__cluster"))
        .join(tombIds, "id")
        .groupBy(col("__cluster")).agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val epoch = org.apache.spark.sql.graft.CensusIndex
        .readEpoch(spark, path).getOrElse(0L)
      IvfIndex.writeCellTombs(spark, path, nids, epoch, counts)
      counts
    }

    /** Test hook (RebalanceSpec crash case): throw between the journal
      * commit and its replay — the widest crash window the commit-
      * through-journal design must survive.
      */
    @transient @volatile private[graft] var failAfterJournal: Boolean = false

    /** Whether `cast(idc as string)` is a tombstoned id of `ids`: an
      * `InSet` literal up to [[IvfIndex.Tuning.deleteInSetMaxIds]] ids,
      * above it [[graft.functions.InBroadcastIds]] over the set's
      * broadcast (one per set instance). Null for a null id.
      */
    private def deletedTest(spark: SparkSession, idc: String,
        ids: Set[String]): Column = {
      val id = col(idc).cast("string")
      if (ids.size <= tuning.deleteInSetMaxIds) id.isin(ids.toSeq: _*)
      else {
        val bc = deletedIdsLock.synchronized {
          if (deletedIds == null || (deletedIds._1 ne ids))
            deletedIds = (ids, spark.sparkContext.broadcast(
              ids.map(org.apache.spark.unsafe.types.UTF8String.fromString)))
          deletedIds._2
        }
        org.apache.spark.sql.graft.Bridge.column(graft.functions.InBroadcastIds(
          org.apache.spark.sql.graft.Bridge.expression(id), bc))
      }
    }
    @transient private lazy val deletedIdsLock = new Object
    @transient private var deletedIds: (Set[String],
      org.apache.spark.broadcast.Broadcast[
        Set[org.apache.spark.unsafe.types.UTF8String]]) = null

    /** Rows of `df` minus tombstoned ids — the serving-side exclusion.
      * Ids match on `cast(idCol as string)` (the repo-wide canonical
      * cross-type id form); null ids can't be tombstoned and always
      * survive (the test is null → `coalesce(..., false)`).
      */
    private def excludeDeleted(spark: SparkSession, df: DataFrame,
        tombs: Option[(String, Set[String])]): DataFrame =
      tombs match {
        case Some((idc, ids)) if ids.nonEmpty =>
          df.filter(!coalesce(deletedTest(spark, idc, ids), lit(false)))
        case _ => df
      }

    /** [[indexDf]] minus tombstoned rows — what every SERVING path reads.
      * Planning paths (occupancy, count memo, cellCounts) intentionally
      * stay on the tombstone-inclusive counts: support estimates may
      * only OVER-count under deletion, which widens probes (more work,
      * never missing results) and keeps the zero-match fast path exact
      * (a true 0 stays 0 when rows are only ever removed).
      */
    private def servingDf(spark: SparkSession): DataFrame =
      excludeDeleted(spark, indexDf(spark), tombstones(spark))

    /** [[search]]'s scans, one per (snapshot, filter) — see
      * [[preparedScan]]. Access-ordered, bounded by
      * [[VectorSearch.preparedScansPerHandle]]; guarded by itself, held
      * only to look up or insert an entry, never while one compiles.
      */
    @transient private lazy val preparedScans =
      new java.util.LinkedHashMap[IvfIndex.ScanKey, PreparedScan](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[IvfIndex.ScanKey, PreparedScan]): Boolean =
          size > VectorSearch.preparedScansPerHandle
      }

    /** The [[PreparedScan]] of [[servingDf]] ∩ `filter`: `score` against
      * the job-bound query, over either some cells' stored rows (a
      * partition filter on `__cluster`) or one cell's resident rows
      * ([[residentCell]]), layout columns dropped. Kept per key on exactly
      * what [[servingDf]] reads — the cached relation INSTANCE, the
      * tombstone snapshot INSTANCE, the InSet-vs-broadcast choice — plus
      * the filter's [[org.apache.spark.sql.graft.Bridge.reusableKey]], so
      * every path that swaps the relation ([[newSnapshot]]) or the
      * tombstones (`deletesNow0`) misses by construction. A filter whose
      * text cannot pin its meaning (a UDF, SQL text) gets an entry that is
      * never kept. A new entry drops this session's entries of a
      * superseded snapshot (they never serve again).
      */
    private[graft] def preparedScan(spark: SparkSession,
        filter: Option[Column]): PreparedScan = {
      val df = indexDf(spark)
      val tombs = tombstones(spark)
      val filterKey = filter match {
        case Some(f) => org.apache.spark.sql.graft.Bridge.reusableKey(spark, f)
        case None => Some("")
      }
      def scan(cached: Boolean) = new PreparedScan(cached,
        rows => {
          val serving = excludeDeleted(spark, rows, tombs)
          filter.map(serving.filter).getOrElse(serving)
            .withColumn("score", scoreOf(
              org.apache.spark.sql.graft.Bridge.column(PreparedScan.queryVector),
              org.apache.spark.sql.graft.Bridge.column(PreparedScan.querySum)))
            .drop(layoutCols: _*)
        },
        // the cell filter pushes into the scan as a partition filter;
        // dropping the layout's columns prunes them from it (__dist is
        // the r15 stats column; sq8 reads codes and range for the score)
        cells => cells.map(cs => df.filter(col("__cluster").isin(cs: _*)))
          .getOrElse(df),
        c => residentCell(spark, df, c),
        () => { cellScanBuilds.incrementAndGet(); () })
      filterKey match {
        case None => scan(cached = false)
        case Some(fk) =>
          val key = new IvfIndex.ScanKey(df, tombs,
            tombs.exists(_._2.size > tuning.deleteInSetMaxIds), fk)
          preparedScans.synchronized {
            val hit = preparedScans.get(key)
            if (hit != null) hit
            else {
              preparedScans.keySet.removeIf(o => (o.df.sparkSession eq spark) &&
                ((o.df ne df) || (o.tombs ne tombs)))
              preparedScanBuilds.incrementAndGet()
              val fresh = scan(cached = true)
              preparedScans.put(key, fresh)
              fresh
            }
          }
      }
    }

    /** Decoded cell rows per (snapshot relation INSTANCE, cell) — see
      * [[residentCell]].
      */
    @transient private lazy val residents =
      new java.util.concurrent.ConcurrentHashMap[IvfIndex.CellKey,
        PreparedScan.Resident]()

    /** The rows of cell `c` in the snapshot `df` that every compiled
      * search scan of that snapshot reads, whatever its filter or
      * tombstone set: the cell's files read once (a partition filter on
      * `__cluster`; `__dist`/`__pq` never read) and kept decoded in the
      * block manager at `MEMORY_ONLY` as the RDD named
      * `graft.ivf.cell[<path>#<c>]` ([[PreparedScan.Resident]]), if the
      * first job that reads it stores every partition. Not
      * `Dataset.cache`: a cached plan would be matched against every
      * later query of the session. Released when the snapshot is
      * superseded ([[newSnapshot]]), except that they pass to the next
      * snapshot across tail-only appends ([[newTailSnapshot]]). The tail
      * cell is never resident.
      */
    private def residentCell(spark: SparkSession, df: DataFrame,
        c: Int): PreparedScan.Resident = {
      def fresh() = new PreparedScan.Resident(() => cellRows(df, c),
        s"graft.ivf.cell[$path#$c]",
        rdd => !residencyRefused &&
          org.apache.spark.sql.graft.Bridge.storedWhole(rdd))
      if (c == VectorSearch.TailCell) {
        // the tail's files change with every append: read from parquet
        val r = fresh(); r.release(); r
      } else {
        val key = new IvfIndex.CellKey(df, c)
        val r = residents.computeIfAbsent(key, _ => fresh())
        // a search that took its scans before a write compiles a cell of
        // a snapshot already superseded: read it from parquet. Checked
        // after the insert, so a write that clears `dfCache` after this
        // check still finds the entry when it releases (or passes on) the
        // old cells.
        val current = dfCache.synchronized {
          (dfCache.get(spark) eq df) || (tailSuperseded.get(spark) eq df)
        }
        if (!current) { residents.remove(key, r); r.release() }
        r
      }
    }

    /** Test hook: every cell's first job reads as not stored (as when
      * storage memory cannot hold it), so specs reach the parquet
      * fallback of [[PreparedScan.Resident]].
      */
    @transient @volatile private[graft] var residencyRefused: Boolean = false

    private def cellRows(df: DataFrame, c: Int): DataFrame =
      df.filter(col("__cluster") === c).drop("__dist", "__pq")

    /** Per session, the relation a tail-only append superseded: the next
      * relation [[indexDf]] builds for that session takes over its
      * resident cells, whose files no tail append touches. Guarded by
      * `dfCache`.
      */
    @transient private lazy val tailSuperseded =
      new java.util.WeakHashMap[SparkSession, DataFrame]()

    /** Forget every session's relation, so the next read builds a new
      * snapshot, and release (unpersist, non-blocking) the old snapshots'
      * resident cells — what every write through this handle and
      * [[refresh]]/[[dropCensus]] do.
      */
    private def newSnapshot(): Unit = {
      dfCache.synchronized { tailSuperseded.clear(); dfCache.clear() }
      residents.entrySet.removeIf { e => e.getValue.release(); true }
    }

    /** [[newSnapshot]] after an [[appendTail]], which adds files to the
      * tail only: the resident cells pass to each session's next relation.
      */
    private def newTailSnapshot(): Unit = dfCache.synchronized {
      dfCache.forEach((s, df) => tailSuperseded.put(s, df))
      dfCache.clear()
    }

    /** The compiled plan [[search]] runs for `cell` under `filter` once
      * the (snapshot, filter) repeats — plan-shape specs assert on it.
      */
    private[graft] def preparedCellPlan(spark: SparkSession,
        filter: Option[Column], cell: Int)
        : org.apache.spark.sql.execution.SparkPlan =
      preparedScan(spark, filter).cell(cell).df.queryExecution.executedPlan

    /** The plan a key's first search runs over `cells`' stored rows. */
    private[graft] def storedScanPlan(spark: SparkSession,
        filter: Option[Column], cells: Seq[Int])
        : org.apache.spark.sql.execution.SparkPlan =
      preparedScan(spark, filter).storedScan(Some(cells))
        .queryExecution.executedPlan

    /** The plan that fills `cell`'s resident rows from its stored files. */
    private[graft] def cellFillPlan(spark: SparkSession, cell: Int)
        : org.apache.spark.sql.execution.SparkPlan =
      cellRows(indexDf(spark), cell).queryExecution.executedPlan

    /** `df` plus a boolean `__graft_del` flag — [[scrub]]'s both-polarity
      * form of [[excludeDeleted]], same InSet/broadcast crossover.
      */
    private def withDeletedFlag(spark: SparkSession, df: DataFrame,
        idc: String, ids: Set[String]): DataFrame =
      df.withColumn("__graft_del",
        coalesce(deletedTest(spark, idc, ids), lit(false)))

    /** The per-row score of query `q` under the index's storage mode.
      * Float layouts: the exact dot. SQ8 layouts: the dot against the
      * stored row's DEQUANTIZED vector, computed algebraically from the
      * code array without materializing it —
      *   qmin·Σq + (qmax−qmin)/255 · (codes·q + 128·Σq)
      * (per-row asymmetric int8, [[graft.operators.Quantize]]). All
      * arithmetic in double, term order fixed so the DuckDB oracle
      * replays it bit-for-bit (q67/q121). This is NOT a stage-1 estimate
      * needing a float re-rank: the codes are the only stored
      * representation (that is the disk win), the algebra IS the exact
      * dot over what is stored, and any overfetch+re-rank against the
      * same codes would reproduce the identical ranking. Quantization
      * loss shows up only against a FLOAT-exact baseline (measured: the
      * sq8 recalls in bench_history/BENCH_scale_idx10m_r16.json).
      */
    private def scoreExpr(q: Array[Float]): Column =
      scoreOf(typedLit(q), lit(graft.functions.JobQuery.sum(q)))

    /** [[scoreExpr]] over a query given as columns — the vector `qv` and
      * its double sum `qsum` (the sq8 term): literals for a per-query
      * plan, [[PreparedScan.queryVector]]/[[PreparedScan.querySum]] for a
      * prepared one. The one definition of both layouts' scores.
      */
    private def scoreOf(qv: Column, qsum: Column): Column =
      if (!quantized) vec_dot(col("__vec"), qv)
      else
        col("__qmin") * qsum +
          (col("__qmax") - col("__qmin")) / lit(255.0) *
            (vec_dot(col("__codes"), qv) + lit(128.0) * qsum)

    /** Columns of the physical layout a search result must not leak. */
    private def layoutCols: Seq[String] =
      Seq("__cluster", "__vec", "__dist", "__codes", "__qmin", "__qmax",
        "__pq")

    // @transient fields deserialize to JVM defaults, not initializers —
    // a handle that rode through a closure would read censusNow0 as
    // NULL, and a match on null throws. Read through this everywhere.
    private def censusOpt
        : Option[(Long, org.apache.spark.sql.types.StructType,
          Seq[org.apache.spark.sql.graft.CensusIndex.CensusFile])] = {
      val c = censusNow0
      if (c == null) None else c
    }

    private def indexDf(spark: SparkSession): DataFrame = {
      val cached = dfCache.get(spark)
      if (cached != null) cached
      else {
        import org.apache.spark.sql.graft.CensusIndex
        val df = censusOpt match {
          case Some((_, schema, files)) =>
            CensusIndex.relation(spark, path, "__cluster", schema, files)
          case None =>
            // epoch BEFORE the listing: files appended between the two
            // reads leave a mismatched epoch, so a stale capture can
            // never be persisted as current
            val ep = CensusIndex.readEpoch(spark, path)
            val listed = spark.read.parquet(path)
            if (ep.isDefined)
              CensusIndex.extract(listed, path).foreach { case (ds, fs) =>
                censusNow0 = Some((ep.get, ds, fs))
                dataSchemaNow = ds
              }
            listed
        }
        dfCache.synchronized {
          dfCache.put(spark, df)
          val prior = tailSuperseded.remove(spark)
          if (prior != null)
            residents.keySet.forEach { k =>
              if (k.df eq prior) {
                val r = residents.remove(k)
                if (r != null) residents.put(new IvfIndex.CellKey(df, k.cell), r)
              }
            }
        }
        df
      }
    }

    /** Drop ONLY the census + relation caches so the next read
      * re-lists the directory and re-captures — the narrow form of
      * [[refresh]] for a handle whose FILE LIST may lag (a rebalance's
      * fresh handle that raced a tail append) but whose driver stats
      * and occupancy are current. Keeps the occupancy pruning armed.
      */
    private[graft] def dropCensus(): Unit = maintLock.synchronized {
      censusNow0 = None
      newSnapshot()
      tailRowsKnown = null
      filesPerCellCache = -1.0
    }

    /** Drop cached relations and memoized filtered-count maps so the next
      * search re-lists the index — call after another handle/process
      * appended to the same path.
      */
    def refresh(): Unit = {
      newSnapshot(); countCache.clear()
      filesPerCellCache = -1.0
      deletesNow0 = null // re-read `_graft_deletes` (external deletes/scrubs)
      cellTombsNow = null // keyed to (nids, epoch); both may have moved
      tailRowsKnown = null // external appendTail/compactTail: recount
      censusNow0 = None // external appends: the file list is stale
      // occupancy cannot be rebuilt here (it only folds this handle's
      // own appends), so any external rows refresh() just made visible
      // are absent from it — the occupancy-pruned count scan would no
      // longer be exact. One-way: reload the index to re-arm pruning.
      prunedCountScanDisabled = true
    }

    /** Extend a census with the files a just-committed append added to
      * `touched` cluster dirs: list ONLY those dirs (O(batch cells), not
      * O(index files)) and keep everything whose relative path the prior
      * census doesn't know. None on any failure — the caller then drops
      * the census and the next read falls back to a real full listing,
      * which remains the ground truth.
      */
    private def foldCensus(spark: SparkSession,
        schema: org.apache.spark.sql.types.StructType,
        oldFiles: Seq[org.apache.spark.sql.graft.CensusIndex.CensusFile],
        touched: Set[Int], newEpoch: Long)
        : Option[(Long, org.apache.spark.sql.types.StructType,
          Seq[org.apache.spark.sql.graft.CensusIndex.CensusFile])] =
      try {
        import org.apache.hadoop.fs.Path
        val rootPath = new Path(path)
        val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val rootUriPath = fs.makeQualified(rootPath).toUri.getPath
        val known = oldFiles.iterator.map(_.relPath).toSet
        val added = touched.toSeq.sorted.flatMap { c =>
          val d = new Path(rootPath, s"__cluster=$c")
          if (!fs.exists(d)) Seq.empty
          else fs.listStatus(d).toSeq
            .filter { st =>
              val n = st.getPath.getName
              st.isFile && !n.startsWith("_") && !n.startsWith(".")
            }
            .flatMap { st =>
              val p = fs.makeQualified(st.getPath).toUri.getPath
              if (p.startsWith(rootUriPath + "/"))
                Some(org.apache.spark.sql.graft.CensusIndex.CensusFile(
                  c, p.substring(rootUriPath.length + 1), st.getLen,
                  st.getModificationTime))
              else None
            }
        }.filterNot(f => known(f.relPath))
        Some((newEpoch, schema, oldFiles ++ added))
      } catch {
        case e: Exception =>
          System.err.println(
            s"[graft] census fold after append failed (falling back to " +
              s"re-listing): ${e.getMessage}")
          None
      }

    /** Set by [[refresh]]: once external appends may be visible in the
      * scan but not in occupancy, the conjunction count-scan pruning
      * (which trusts occupancy to bound a conjunction's support) must
      * stand down so counts stay exact. Direct single-column occupancy
      * lookups keep their documented handle-freshness contract — this
      * flag guards only the pruning that would corrupt the otherwise
      * ground-truth scan path.
      */
    @transient @volatile private var prunedCountScanDisabled: Boolean = false

    // Memoized per-cluster match counts, keyed by the filter expression's
    // string form: each DISTINCT filter pays its pushed count scan once
    // per handle generation (append/refresh invalidate) instead of once
    // per search — the serving-layer cache the probe plan wants.
    @transient private lazy val countCache =
      new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Long]]()

    /** Prefill the per-filter count memo from a persisted snapshot
      * ([[saveManifest]]'s `counts` table via [[IvfIndex.load]]) —
      * existing in-memory entries win (they are at least as fresh).
      */
    private[graft] def prefillCounts(m: Map[String, Map[Int, Long]]): Unit =
      m.foreach { case (k, v) => countCache.putIfAbsent(k, v); () }

    /** Filter keys currently memoized (spec/diagnostic surface). */
    private[graft] def memoizedCountKeys: Set[String] = {
      import scala.jdk.CollectionConverters._
      countCache.keySet.asScala.toSet
    }

    /** The most candidate cells a pruned conjunction count scan lists in
      * its `isin` literal ([[matchCounts]]); above it the scan is unpruned.
      */
    private val countScanMaxCells = 2048

    /** Per-cluster match counts for `filter`, cheapest source first:
      * (a) the build-time [[occupancyTable]] when the filter is an
      *     equality or IN over ONE registered categorical column — a pure
      *     driver lookup, NO Spark job on the filtered-search hot path
      *     (the reference's categorical predicates take this path);
      * (b) the per-(handle, filter) memo — any other predicate pays its
      *     count job once, then serves from the driver;
      * (c) the pushed, column-pruned count scan itself (reads the
      *     predicate's columns only, never the vectors).
      */
    private[graft] def matchCounts(spark: SparkSession, f: Column): Map[Int, Long] =
      // zero-total backstop: a lookup that finds NO matching rows falls
      // through to the count scan rather than being trusted — if the
      // table and the filter genuinely disagree (a literal rendering the
      // type gate didn't anticipate), the scan is the ground truth, and a
      // genuinely-zero-match filter pays one memoized empty count job
      // instead of silently returning zero search results
      //
      // TAIL rows (appendTail's deferred-fold segment) are outside the
      // occupancy table, and the jobless path does NOT guess at them:
      // a tail match-count upper bound folded into the map would
      // suppress the thin-support classification for exactly the
      // ultra-selective filters it exists for (total ≤ thinFactor·k
      // compares against it). Instead the map carries a −1 entry ONLY
      // when it is EXACT — the count-scan path counts tail matches
      // (and marks a match-free tail with an explicit 0) — and
      // [[probePlan]] falls back to "tail present ⇒ read it" when the
      // entry is absent (the occupancy path). Membership is safe
      // either way: the tail is read whenever it may hold matches.
      occupancyCounts(f).filter(_.valuesIterator.sum > 0L).getOrElse {
        // stable across calls for the same predicate (repeated searches
        // hit the memo) and type-faithful (lit(1) vs lit("1") cannot
        // alias one entry); None for a predicate its text cannot pin (a
        // UDF: two anonymous ones render alike), which is never memoized
        // — see Bridge.reusableKey
        val key = org.apache.spark.sql.graft.Bridge.reusableKey(spark, f)
        val cached = key.map(countCache.get).orNull
        if (cached != null) cached
        else {
          // conjunction fast path (r9): when one conjunct of an AND is a
          // registered categorical equality/IN, its occupancy candidate
          // cells BOUND the whole conjunction's support — a cell with
          // zero rows matching the categorical term has zero matching
          // the conjunction. Restricting the count scan to those cells
          // partition-prunes it (the reference's selectivity tiers are
          // exactly `category === v && numeric-range` shapes, where the
          // category touches a fraction of the cells). Counts stay
          // EXACT: pruned-away cells contribute no rows either way.
          // Two gates on the pruning (r10):
          // - freshness: occupancy only ever folds THIS handle's
          //   appends, so after refresh() picked up another handle's
          //   rows the table can miss a cell's first occurrence of a
          //   value — pruning would then silently exclude that cell
          //   from an otherwise-exact count scan. The count scan must
          //   stay ground truth, so a refreshed handle stops pruning
          //   for its lifetime (external rows never enter occupancy;
          //   reload the index to re-arm).
          // - literal budget: isin(cells) is compiled into the plan, and
          //   a broadly-distributed value at cap scale would emit tens
          //   of thousands of literals — the exact plan-growth shape
          //   BASELINE r7 measured at 13.7 s of analysis/codegen for
          //   500 literals. Past countScanMaxCells candidate cells the
          //   unpruned scan is cheaper than compiling the prune.
          val candidateCells: Option[Seq[Int]] = {
            if (prunedCountScanDisabled) None
            else {
              val cs = org.apache.spark.sql.graft.Bridge.conjuncts(f)
              if (cs.length < 2) None
              else cs.iterator.map(occupancyCounts).collectFirst {
                case Some(m) if m.valuesIterator.sum > 0L => m.keys.toSeq
              }
            }
          }
          val scanDf = candidateCells match {
            case Some(cells) if cells.length < centroids.length &&
                cells.length <= countScanMaxCells =>
              // the occupancy bound doesn't cover TAIL rows — a pruned
              // scan must still count the tail's matches exactly
              val withTail =
                if (tailRowsNow(spark) > 0L) cells :+ VectorSearch.TailCell
                else cells
              indexDf(spark).filter(col("__cluster").isin(withTail: _*))
            case _ => indexDf(spark)
          }
          val matching = scanDf.filter(f)
          val counts0 = matching
            .groupBy(col("__cluster")).agg(count(lit(1)).as("__n"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          // the scan's tail count is EXACT — mark a match-free tail
          // with an explicit 0 so probePlan can skip reading it (the
          // jobless zero-match contract survives a live tail)
          val counts =
            if (!counts0.contains(VectorSearch.TailCell) &&
                tailRowsNow(spark) > 0L)
              counts0.updated(VectorSearch.TailCell, 0L)
            else counts0
          // a nondeterministic or current-time filter's counts hold for
          // this call only
          if (org.apache.spark.sql.graft.Bridge.reusablePlan(matching))
            key.foreach(countCache.put(_, counts))
          counts
        }
      }

    /** Driver-side match counts from the occupancy table, when the filter
      * is `col === literal` or `col.isin(literals...)` over a registered
      * occupancy column AND every literal's JVM type is faithful to the
      * column's Spark type. None otherwise (conjunctions with numeric
      * ranges CANNOT use the categorical table — occupancy would only
      * bound the true match count from above, and the ≥ k widening needs
      * true counts).
      *
      * The type gate exists because the table keys are the column's
      * cast-to-string renders while a literal renders via JVM toString:
      * same-type comparisons agree exactly with Spark's filter semantics
      * (string vs string, integral vs integral), but a CROSS-type
      * comparison can diverge both ways — `col(intCol) === 1.0` renders
      * "1.0" against table key "1" (filter matches, lookup finds
      * nothing), and `col(strCol) === 1` coerces "01" rows into the
      * match set that a "1" lookup doesn't count. Mismatched literals
      * take the count-scan path, whose semantics ARE the filter's.
      */
    private def occupancyCounts(f: Column): Option[Map[Int, Long]] =
      // `===` / `isin` shapes only, decoded pre-analysis (Bridge — Spark
      // 4's node classes are private[sql])
      org.apache.spark.sql.graft.Bridge.equalityOrInTyped(f).flatMap {
        case (name, values) =>
          // unknown column type (pre-type-tracking manifest): assume the
          // registered column is a categorical string — the build shapes
          // that existed before types were recorded
          val colType = occupancyTypes.getOrElse(name, "string")
          occupancyNow.get(name)
            .filter(_ => values.forall(literalTypeFaithful(colType, _)))
            .map { m =>
              val vs = values.map(_.toString).toSet
              m.iterator.collect { case ((c, v), n) if vs(v) => (c, n) }
                .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
            }
      }

    /** Per-query effective probe sets. Unfiltered: the `nprobe` best cells
      * by the routing bound. Filtered: the FILTER-AWARE plan — rank ALL
      * cells by the bound, keep only cells that contain matching rows
      * (one per-cluster count with the predicate pushed; reads the
      * predicate's columns only, never the vectors), and take the best
      * `nprobe` of those, widening down the ranked list until the probed
      * cells hold ≥ [[IvfIndex.Tuning.widenFactor]] × `k` candidates
      * (floor `k`). A filter whose ENTIRE support is thin
      * (≤ [[IvfIndex.Tuning.thinFactor]] × k matching rows) and
      * affordable to read plans ALL its match-bearing cells instead —
      * the exact answer's support, recall 1.0 at any nprobe.
      *
      * Why: a metadata filter can be ANTI-correlated with the query's
      * region (query a Books product, filter main_category = Computers) —
      * every match-bearing cell then ranks below every query-side cell,
      * and a query-centric probe list has recall ~0 at any affordable
      * nprobe (measured at the sf1 scale point: 0.0 at nprobe 128 of 1000
      * on three of four selectivity tiers). The old binary fallback saved
      * recall by widening to an EXACT scan whenever the probed candidate
      * count fell short — correct, but it turned every such query into a
      * full-index scan. Restricting the ranked list to match-bearing
      * cells probes exactly the right region at any selectivity, and the
      * ≥ k widening recovers the ultra-selective tail (where it
      * degenerates, correctly, to scanning every match-bearing cell —
      * which IS the exact answer's support). Match counts come from
      * [[matchCounts]]: a driver lookup for registered categorical
      * filters, a once-per-(handle, filter) memoized count scan otherwise
      * — the hot path of a repeated filtered search runs NO count job.
      */
    private[graft] def probePlan(spark: SparkSession, queries: Seq[Array[Float]],
        k: Int, nprobe: Int, filter: Option[Column],
        exactFallback: Boolean): Seq[Seq[Int]] = filter match {
      case Some(f) if exactFallback && nprobe < centroids.length =>
        val counts = matchCounts(spark, f)
        // r17: under active tombstones the widening/thin-support VOLUMES
        // use live lower bounds (inclusive count − cell tombstone count;
        // scaladoc at [[cellTombsNow]]); membership below stays on the
        // inclusive counts so no live-match cell is ever dropped. With
        // no tombstones this is the identity at zero cost.
        val tombs = cellTombCounts(spark)
        def liveAt(c: Int): Long =
          if (tombs.isEmpty) counts.getOrElse(c, 0L)
          else math.max(0L, counts.getOrElse(c, 0L) - tombs.getOrElse(c, 0L))
        // candidate-volume target: ≥ widenFactor × k matching rows in
        // the probed cells, floor k — see Tuning.widenFactor (default
        // 1.0 = the classic ≥ k widening; the larger-factor hypothesis
        // was measured and refuted, scaladoc there)
        val t = tuning
        val target = math.max(k.toLong, math.ceil(t.widenFactor * k).toLong)
        // thin-support scan (r12): a filter whose ENTIRE support is
        // ≤ thinFactor × k rows, and whose match-bearing cells are
        // affordable to read, plans ALL of them — the probed set is the
        // exact answer's support, recall 1.0 at any nprobe. Exact driver
        // arithmetic over counts + cellCounts; zero jobs.
        val tf = t.thinFactor
        val trf = t.thinReadFraction
        val totalMatches =
          if (tombs.isEmpty) counts.valuesIterator.sum
          else counts.keysIterator.map(liveAt).sum
        val thinAll = tf > 0 && totalMatches > 0 &&
          totalMatches <= tf * k && cellCounts.nonEmpty && {
            val totalRows = cellCounts.sum
            totalRows > 0L && {
              // tail (pseudo-cell −1) excluded from the cost volume:
              // it is read regardless of this decision, and cellCounts
              // describes compacted cells only
              val vol = counts.keysIterator
                .map(c => if (c >= 0 && c < cellCounts.length) cellCounts(c)
                  else 0L)
                .sum
              vol.toDouble <= trf * totalRows
            }
          }
        if (thinAll) thinSupportPlans.incrementAndGet()
        // every plan carries the TAIL segment when it may hold matches:
        // tail rows were never assigned, so no ranked cell accounts for
        // them — the plan's membership claim (no live-match region
        // dropped) requires reading the tail until compaction folds it.
        // A −1 entry in counts is EXACT (count-scan path; 0 = scanned,
        // no matches ⇒ skip the tail, the jobless zero-match path
        // survives); no entry means the jobless occupancy path, which
        // cannot see tail rows ⇒ read the tail whenever one exists.
        // Never counted toward the ≥ k widening (a plan widens as if
        // the tail held nothing — the conservative direction).
        val tailPlan = counts.get(VectorSearch.TailCell) match {
          case Some(_) => liveAt(VectorSearch.TailCell) > 0L
          case None => tailRowsNow(spark) > 0L
        }
        queries.map { q =>
          val ranked = nearestClusters(q, centroids.length)
            .filter(c => counts.getOrElse(c, 0L) > 0L)
          val planned =
            if (thinAll) ranked
            else {
              val sel = scala.collection.mutable.ArrayBuffer.empty[Int]
              var cum = 0L
              var i = 0
              while (i < ranked.length && (i < nprobe || cum < target)) {
                sel += ranked(i)
                cum += liveAt(ranked(i))
                i += 1
              }
              sel.toSeq
            }
          if (tailPlan) planned :+ VectorSearch.TailCell else planned
        }
      case _ =>
        val tailPlan = tailRowsNow(spark) > 0L
        queries.map { q =>
          val planned = nearestClusters(q, nprobe)
          if (tailPlan) planned :+ VectorSearch.TailCell else planned
        }
    }

    /** Approximate filtered top-k probing `nprobe` clusters. EAGER: the
      * call runs the search and returns its ≤ k rows (best first, ties
      * broken on row content) as a local DataFrame; collecting it runs
      * no further job.
      *
      * Every search plans its cells on the driver ([[probePlan]] and the
      * exact-switch arbitration) and runs exactly ONE Spark job over the
      * probed cells — a bounded heap per partition, the merge on the
      * driver — with the filter and the narrow projection pushed into the
      * parquet reader. The scan's cost follows what repeats
      * ([[preparedScan]]): the first search of an (index snapshot,
      * filter) plans one scan over its probed cells, as a per-query plan
      * would; from the second on, each probed cell's scan is compiled
      * once, on first use, and reused, so a search does no analysis,
      * codegen or closure cleaning of the scan.
      *
      * Memory: those compiled scans read each cell's rows RESIDENT
      * ([[residentCell]]) — decoded once per snapshot (per session) by the
      * first job that reads the cell and kept in the block manager at
      * `MEMORY_ONLY`, shared by every filter and tombstone set of that
      * snapshot, so a warm search decodes no parquet. A cell whose first
      * job did not store it whole (storage memory too small, or full) is
      * read from parquet as before, and so is the tail. A new snapshot
      * unpersists the old one's cells, except that an [[appendTail]]
      * keeps them (it writes only the tail's files). An [[append]],
      * [[appendTail]], [[compactTail]], [[delete]], [[scrub]] or
      * [[refresh]] starts a new snapshot. A filter with a UDF, SQL text,
      * a nondeterministic function or the current time is planned afresh
      * for every search.
      * PQ layouts serve through their two-phase plan instead.
      *
      * `exactFallback` enables the FILTER-AWARE widening in [[probePlan]]:
      * the probe list is restricted to match-bearing cells and widened
      * down the ranked order until the probed cells hold ≥ `k` qualifying
      * rows. This is BEST-EFFORT, not exact — ≥ k candidates probed does
      * not guarantee the true top-k's cells were among them (SCALE.md's
      * sf1 point measures 0.997 at the 10%-selectivity tier) — but at
      * ultra-selective filters it degenerates, correctly, to scanning
      * every match-bearing cell, which IS the exact answer's support.
      * With `exactFallback = false` the probe list is the query's own
      * `nprobe` best cells regardless of the filter (recall collapses
      * under anti-correlated filters — see [[probePlan]]).
      */
    def search(spark: SparkSession, query: Array[Float], k: Int, nprobe: Int,
        filter: Option[Column] = None, exactFallback: Boolean = true): DataFrame = {
      val clusters = probePlan(spark, Seq(query), k, nprobe, filter,
        exactFallback).head
      // cost-based switch: a probe plan touching ≥ the handle's
      // exactScanFraction of the rows runs the exact scan instead (recall
      // 1.0, one clean pushed pass — see Tuning for the sf1 measurement)
      // PQ layouts ALWAYS serve two-phase (ADC shortlist over the m-byte
      // code column → sq8-exact re-rank), full-plan included: phase 1
      // reads ~28× fewer bytes than the sq8 "exact" scan at 2688 dims,
      // so the exact-switch arbitration (which models equal-bytes
      // representations) is never the cheaper path on a pq layout — the
      // same contract as FAISS IndexIVFPQ, where search is
      // shortlist-bounded at every nprobe and recall is governed by the
      // refinement budget ([[IvfIndex.pqOverfetch]]), not by a scan fallback.
      if (pqMode)
        return searchPqProbe(spark, query, k, clusters, filter)
      // full-plan/switch arbitration over REAL cells only — the tail
      // (pseudo-cell −1, appended by probePlan) is outside cellCounts
      // and is read by the full scan either way
      val realCells = clusters.filter(_ >= 0)
      val exact = realCells.length == centroids.length ||
        exactScanWins(spark, Seq(realCells), filter.isDefined)
      if (exact && realCells.length != centroids.length)
        exactSwitches.incrementAndGet()
      cellsProbed.addAndGet(
        if (exact) centroids.length.toLong else realCells.length.toLong)
      preparedScan(spark, filter).topK(spark, query, k,
        if (exact) None else Some(clusters),
        centroids.indices :+ VectorSearch.TailCell)
    }

    /** [[search]]'s probe branch on PQ layouts: phase 1 heap-top-ks the
      * k · [[IvfIndex.pqOverfetch]] shortlist by ADC over ONLY (`__cluster`,
      * id, `__pq`) — a TakeOrderedAndProject whose scan reads m bytes
      * of codes per row; phase 2 re-reads just the shortlist's cells,
      * joins the (bounded, broadcast) id list and re-ranks sq8-exact.
      * Needs the build-registered [[pqIdColNow]] to join the phases —
      * the reason storage = "pq" requires `pqIdCol` at build.
      */
    private def searchPqProbe(spark: SparkSession, query: Array[Float],
        k: Int, clusters: Seq[Int], filter: Option[Column]): DataFrame = {
      val idc = pqIdColNow
      require(idc != null,
        "PQ index has no registered id column (manifest predates pq or " +
          "was built without pqIdCol) — rebuild with buildIvf(storage=\"pq\", pqIdCol=...)")
      pqPhase1.incrementAndGet()
      val lut = graft.operators.Quantize.pqLut(query, pqCodebooksNow)
      val base =
        if (clusters.count(_ >= 0) == centroids.length) servingDf(spark)
        else servingDf(spark).filter(col("__cluster").isin(clusters: _*))
      val filtered = filter.map(base.filter).getOrElse(base)
      val shortK = math.max(k, k * IvfIndex.pqOverfetch)
      val cand = filtered
        .select(col("__cluster"), col(idc).cast("string").as("__idstr"),
          graft.functions.pq_adc(col("__pq"), lut, 256).as("__adc"))
        .orderBy(desc("__adc"), col("__idstr"))
        .limit(shortK)
        .select(col("__cluster"), col("__idstr")).collect()
      val candCells = cand.map(_.getInt(0)).distinct.toSeq
      val candIds = cand.map(_.getString(1)).distinct.toSeq
      import spark.implicits._
      servingDf(spark).filter(col("__cluster").isin(candCells: _*))
        .withColumn("__idstr", col(idc).cast("string"))
        .join(broadcast(candIds.toDF("__idstr")), Seq("__idstr"))
        .withColumn("score", scoreExpr(query))
        .orderBy(desc("score")).limit(k)
        .drop("__idstr")
        .drop(layoutCols: _*)
    }

    /** [[search]] for MULTIPLE queries in ONE scan over the UNION of their
      * probe sets. Per-query semantics are preserved exactly: each query's
      * score is masked to its own effective probe set (a row in the union
      * but outside query i's set contributes nothing to query i), and the
      * filter-aware plan ([[probePlan]]) serves every query from ONE
      * filter-pushed per-cluster count scan instead of Q separate count
      * jobs. Q queries cost one scan with a bounded heap per query, in one
      * job, instead of Q × (count job + top-k job).
      *
      * Returns (`query_id` = index into `queries`, `rank`, `score`,
      * `idCol` as string) as a local frame, in [[topKMulti]]'s tie order;
      * `k` ≤ 0 returns no rows.
      */
    def searchMulti(spark: SparkSession, queries: Seq[Array[Float]], k: Int,
        nprobe: Int, idCol: String, filter: Option[Column] = None,
        exactFallback: Boolean = true): DataFrame = {
      require(queries.nonEmpty)
      if (pqMode)
        return searchMultiPq(spark, queries, k, nprobe, idCol, filter,
          exactFallback)
      // same filter-aware plan as [[search]] — ONE per-cluster count scan
      // serves every query's widening decision
      val effective: Seq[Set[Int]] =
        probePlan(spark, queries, k, nprobe, filter, exactFallback)
          .map(_.toSet)
      val unionAll = effective.reduce(_ ++ _)
      // cost-based switch (whole call — the union IS the scan either
      // way): when the union holds ≥ Tuning.exactScanFraction of the
      // rows, one exact multi-query scan beats probing it cell by cell,
      // returns recall 1.0 for every query, and skips the masks
      // entirely. Arbitration over REAL cells — the tail (pseudo-cell
      // −1) is outside cellCounts and read either way.
      val unionReal = unionAll.count(_ >= 0)
      if (unionReal < centroids.length &&
          exactScanWins(spark, effective.map(_.filter(_ >= 0)),
            filter.isDefined)) {
        exactSwitches.incrementAndGet()
        return topKMultiScored(servingDf(spark), scoreExpr, queries, k, idCol,
          filter)
      }
      val tops = maskedTopRows(spark, probedRows(spark, unionAll, filter),
        col("__cluster"), effective, qi => coversAll(effective(qi)), queries,
        scoreExpr, k, col(idCol).cast("string").as(idCol))
      VectorSearch.multiResult(spark, idCol, queries.length, tiered = false,
        tops)
    }

    // whether probe set `s` holds every real cell, and the tail when its
    // plan reads the tail: every partition value a scan can contain
    private def coversAll(s: Set[Int]): Boolean =
      s.size == centroids.length + (if (s(VectorSearch.TailCell)) 1 else 0)

    /** The serving rows of the `cells` a multi-query plan probes, under
      * `filter` — every row when they cover every real cell.
      */
    private def probedRows(spark: SparkSession, cells: Set[Int],
        filter: Option[Column]): DataFrame = {
      val base =
        if (cells.count(_ >= 0) == centroids.length) servingDf(spark)
        else servingDf(spark).filter(col("__cluster").isin(cells.toSeq: _*))
      filter.map(base.filter).getOrElse(base)
    }

    /** The best `k` rows per query of `rows` ([[VectorSearch.groupedRows]]
      * over `id` as a string, `__s`, then `extra`), query i scored only on
      * rows whose `key` is in `sets(i)` — its probed cells, or in PQ phase
      * 2 its shortlisted ids — unless `unmasked(i)`. So union-probing never
      * inflates a query's recall beyond what its own set would see. The
      * mask is ONE hash lookup per row ([[graft.functions.KeyMask]]) and a
      * shift+AND per query under a `when`: a query whose set excludes the
      * row pays no dot, and the plan does not grow with Q × |set| (Q ×
      * nprobe `In` literals measured 13.7 s of first-call analysis+codegen
      * at 500 literals, BASELINE.md r7).
      */
    private def maskedTopRows(spark: SparkSession, rows: DataFrame,
        key: Column, sets: Seq[Iterable[Any]], unmasked: Int => Boolean,
        queries: Seq[Array[Float]], scoreOf: Array[Float] => Column, k: Int,
        id: Column, extra: Column*): Array[Array[UnsafeRow]] = {
      val words = (queries.length + 63) / 64
      val masks = scala.collection.mutable.Map.empty[Any, Array[Long]]
      sets.zipWithIndex.foreach { case (s, qi) =>
        s.foreach { c =>
          masks.getOrElseUpdate(c, new Array[Long](words))(qi / 64) |=
            1L << (qi % 64)
        }
      }
      val bc = spark.sparkContext.broadcast(masks.toMap)
      try {
        val scores = queries.zipWithIndex.map { case (q, qi) =>
          if (unmasked(qi)) scoreOf(q)
          else when(
            shiftright(element_at(col("__mask"), qi / 64 + 1), qi % 64)
              .bitwiseAND(1L) === 1L,
            scoreOf(q))
        }
        val scan = rows
          .withColumn("__mask", org.apache.spark.sql.graft.Bridge.column(
            graft.functions.KeyMask(
              org.apache.spark.sql.graft.Bridge.expression(key), bc)))
          .select(id +: VectorSearch.scoreArray(scores) +: extra: _*)
        VectorSearch.groupedRows(scan, queries.length, 0, k)
      } finally bc.destroy()
    }

    /** PQ two-phase [[searchMulti]] (storage = "pq" layouts): phase 1
      * ranks by ADC over ONLY the m-byte `__pq` code column (the
      * 28×-fewer-bytes candidate scan at 2688 dims; per-query probe-set
      * masks and plan identical to the one-phase path) and keeps the top
      * k · [[IvfIndex.pqOverfetch]] per query; phase 2 re-reads ONLY the
      * shortlist's cells, masks each query to its own shortlisted ids
      * (the same per-row lookup, keyed by the id string), and re-ranks
      * sq8-exact — returned scores are exactly [[scoreExpr]]'s, so PQ
      * error moves RECALL only, never a score. The user filter is applied
      * in phase 1 (membership in the shortlist implies it). No
      * exact-switch arbitration: on a pq layout phase 1 reads ~28× fewer
      * bytes than the sq8 scan the switch would pick, at EVERY plan size
      * including full — pq serving is shortlist-bounded at every nprobe
      * (the FAISS IndexIVFPQ contract) and recall is the refinement
      * budget's ([[IvfIndex.pqOverfetch]]) job.
      */
    private def searchMultiPq(spark: SparkSession,
        queries: Seq[Array[Float]], k: Int, nprobe: Int, idCol: String,
        filter: Option[Column], exactFallback: Boolean): DataFrame = {
      val effective: Seq[Set[Int]] =
        probePlan(spark, queries, k, nprobe, filter, exactFallback)
          .map(_.toSet)
      pqPhase1.incrementAndGet()
      val cbs = pqCodebooksNow
      val adcOf: Array[Float] => Column = q =>
        graft.functions.pq_adc(col("__pq"),
          graft.operators.Quantize.pqLut(q, cbs), 256)
      val id = col(idCol).cast("string").as(idCol)
      // phase 1 keeps each candidate's cell, so phase 2 reads only the
      // CELLS that actually hold candidates — typically far fewer than
      // the probed union, which is where the sq8-bytes read of phase 2
      // shrinks below a one-phase sq8 scan. Driver state is bounded:
      // Q × k × overfetch rows.
      val cand = maskedTopRows(spark,
        probedRows(spark, effective.reduce(_ ++ _), filter),
        col("__cluster"), effective, qi => coversAll(effective(qi)), queries,
        adcOf, math.max(k, k * IvfIndex.pqOverfetch), id, col("__cluster"))
      val candCells = cand.flatMap(_.map(_.getInt(2))).distinct.toSeq
      val tops = maskedTopRows(spark,
        servingDf(spark).filter(col("__cluster").isin(candCells: _*)),
        col(idCol).cast("string"), cand.map(_.map(_.getUTF8String(0)).toSet),
        _ => false, queries, scoreExpr, k, id)
      VectorSearch.multiResult(spark, idCol, queries.length, tiered = false,
        tops)
    }

    /** Incrementally add vectors to the index — the vector-store upsert
      * path. New rows are assigned to the FROZEN centroids (same fused
      * kernel as the build) and appended as cluster-partitioned files;
      * [[search]] sees them on its next read, and probe order is unchanged
      * because assignment and probing share the same centroids. No rebuild,
      * no shuffle, cost ∝ batch size — at 100 TB this is what makes the
      * index maintainable between periodic re-trains (centroid drift is the
      * standard IVF maintenance trade; re-train when recall degrades).
      *
      * `updates` must carry `vecCol` plus the same payload columns the
      * index was built with.
      *
      * Besides the file append, the batch is folded into the index's
      * driver-side statistics so the routing and the probe plan stay
      * truthful as the index grows: per-cell radii take the max with the
      * batch's max assigned distance (an appended outlier beyond the
      * train sample's radius no longer silently escapes the routing
      * score), the RMS radii merge count-weighted via `cellCounts`, and
      * the occupancy table gains the batch's per-(cluster, value) counts
      * (a filtered search for a value seen ONLY in appends still probes
      * the right cells). One narrow aggregation per batch over the
      * already-assigned rows — O(batch), on the same persisted frame the
      * write consumed.
      */
    // Same kernel-selection rule as buildIvf (flat below
    // twoLevelAssignMinCells, two-level at/above): appended rows must
    // land by the same assignment function as the build's, or a re-run
    // of the same row could move cells. Centroids are frozen for the
    // handle's lifetime, so the grouping never invalidates.
    @transient private lazy val appendAssign = assignKernels(centroids)._1

    def append(updates: DataFrame, vecCol: String): Unit = {
      // the census as of BEFORE this batch — the fold below extends it
      // with the batch's own files instead of throwing it away (r16)
      val priorCensus = censusOpt
      // bump the census epoch BEFORE any data file lands: a crash
      // mid-append leaves epoch ≠ any persisted census, so load() falls
      // back to a real listing instead of serving a file list that
      // misses the partial batch
      val newEpoch = {
        import org.apache.spark.sql.graft.CensusIndex
        val s = updates.sparkSession
        val e = CensusIndex.readEpoch(s, path).getOrElse(0L) + 1L
        CensusIndex.writeEpoch(s, path, e)
        e
      }
      // the batch's cluster set, filled from whichever per-cluster
      // aggregation runs anyway (stats/occupancy) — the census fold
      // needs to know which partition dirs gained files
      var touchedClusters: Option[Set[Int]] = None
      val assigned = updates
        .withColumn("__cluster", appendAssign(col(vecCol)))
        .withColumnRenamed(vecCol, "__vec")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // appended files carry the `__dist` stats column like the build's
        // (O(d) from the persisted assignment, 8 bytes/row). SQ8 layouts
        // quantize the batch the same way the build did (per-row
        // asymmetric int8) and drop the float vector — appended files
        // land with the index's own schema and scoring semantics.
        val withDist = assigned.withColumn("__dist",
          centroid_dist_at(col("__vec"), col("__cluster"), centroids))
        // PQ layouts additionally encode the batch with the FROZEN
        // codebooks (frozen like the centroids — drift is the same
        // re-train trade) so appended files keep the phase-1 column
        val withPq =
          if (pqMode) withDist.withColumn("__pq",
            graft.functions.pq_encode(col("__vec"), pqCodebooksNow))
          else withDist
        val toWrite =
          if (quantized)
            graft.operators.Quantize.quantize(withPq, "__vec").drop("__vec")
          else withPq
        toWrite
          .sortWithinPartitions(col("__cluster"))
          // snappy, matching buildIvf: appends land on the same probe hot
          // path as the build's files, and the measured A/B (BASELINE.md)
          // showed zstd costs ~3× on decode for ~20% size on these payloads
          .write.mode("append").option("compression", "snappy")
          .partitionBy("__cluster").parquet(path)
        if (radii.nonEmpty || rmsRadii.nonEmpty) {
          // dist to the ASSIGNED cell, O(d) over the persisted batch —
          // the r14 form re-ran the O(k·d) assignment kernel a second
          // time per batch (same arithmetic, same chosen cell, so the
          // folded radii are bit-identical)
          val stats = assigned.select(col("__cluster").as("__c"),
              centroid_dist_at(col("__vec"), col("__cluster"), centroids)
                .as("__d"))
            .groupBy(col("__c"))
            .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__s"),
              max(col("__d")).as("__m"))
            .collect()
          touchedClusters = Some(stats.map(_.getInt(0)).toSet)
          stats.foreach { r =>
            val c = r.getInt(0)
            val n = r.getLong(1); val s = r.getDouble(2); val m = r.getDouble(3)
            if (c < radii.length)
              radii(c) = math.max(radii(c), math.sqrt(m))
            if (c < rmsRadii.length && c < cellCounts.length) {
              val n0 = cellCounts(c)
              val meanSq = (rmsRadii(c) * rmsRadii(c) * n0 + s) /
                math.max(n0 + n, 1L)
              rmsRadii(c) = math.sqrt(meanSq)
              cellCounts(c) = n0 + n
            }
          }
        }
        occupancyNow = occupancyNow.map { case (oc, table) =>
          if (!assigned.columns.contains(oc)) oc -> table
          else {
            val add = assigned.filter(col(oc).isNotNull)
              .groupBy(col("__cluster"), col(oc).cast("string").as("__v"))
              .agg(count(lit(1)).as("__n"))
              .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
            oc -> add.foldLeft(table) { case (t, (k2, n)) =>
              t.updated(k2, t.getOrElse(k2, 0L) + n)
            }
          }
        }
        // radii-less legacy layouts skipped the stats collect — the fold
        // still needs the batch's cluster set (one narrow distinct over
        // the persisted batch)
        if (touchedClusters.isEmpty && priorCensus.isDefined)
          touchedClusters = Some(assigned.select(col("__cluster"))
            .distinct().collect().map(_.getInt(0)).toSet)
      } finally assigned.unpersist(blocking = false)
      newSnapshot() // cached relations pin the old file list
      countCache.clear() // memoized counts predate the appended rows
      filesPerCellCache = -1.0 // appended files change the census
      // per-cell tombstone counts are keyed to the census epoch this
      // append just bumped — a batch re-inserting a tombstoned id (the
      // id-level delete semantics exclude it at serve) would otherwise
      // leave a stale-LOW count that lets plans stop early; the next
      // filtered plan under active tombstones re-scans and re-persists
      cellTombsNow = null
      // Fold the batch's files INTO the census instead of dropping it
      // (r16): the appender knows exactly which cluster dirs it touched,
      // so listing JUST those and diffing by relative path yields the
      // new file set — the next search (and the checkpoint below) keeps
      // serving from driver memory with zero full listings, and
      // plan_cold after an append ≈ plan_warm. Any surprise (no prior
      // census, listing failure) falls back to the pre-r16 behavior:
      // census dropped, next indexDf re-lists and recaptures.
      censusNow0 = (priorCensus, touchedClusters) match {
        case (Some((_, schema, oldFiles)), Some(touched)) =>
          foldCensus(updates.sparkSession, schema, oldFiles, touched, newEpoch)
        case _ => None
      }
      // durable-by-default: checkpoint the folded stats on cadence so a
      // crashed appender can't strand load() behind its batches
      checkpointOnCadence(updates.sparkSession)
    }

    /** Streaming-latency append: the batch lands as ONE file in the
      * TAIL segment (`__cluster=-1`) — no assignment kernel, no
      * stats/occupancy folds, no per-cell fan-out — so the commit cost
      * is one small write job plus a single-directory census fold,
      * regardless of how many cells the batch's vectors belong to.
      * [[append]] writes a file per touched cell (right for batch
      * loads, where files amortize); at single-object upsert rates that
      * fan-out IS the latency (measured: ~2 s/commit at 200 QPS,
      * ~0.85 of it the per-cell write+listing — BENCH_ingest_r17), so
      * the streaming path buys the LSM trade instead: every search
      * scans `planned cells ∪ tail` (the tail is commit-sized × the
      * compaction cadence, so the extra read is bounded and small) and
      * [[compactTail]] migrates tail rows into their cells on a cadence,
      * restoring the pruned layout.
      *
      * Planning stays honest without per-batch folds: cell MEMBERSHIP
      * and per-cell counts describe the compacted layout only; the tail
      * rides along as pseudo-cell −1 — always probed, its match count
      * exact under count-scan planning and upper-bounded by the tail
      * size under jobless occupancy planning, and never counted toward
      * the ≥ k widening target (conservative: plans widen as if the
      * tail held nothing). Rows are encoded to the layout's stored
      * representation here (sq8 codes / pq codes), identically to
      * [[append]] — tail rows score through the same expressions as
      * compacted rows.
      *
      * Durability: the file write is the commit (same as [[append]];
      * the epoch bump precedes it, so a crashed half-append can never
      * serve from a stale census). Single writer per index.
      *
      * @return rows appended
      */
    def appendTail(updates: DataFrame, vecCol: String): Long =
      maintLock.synchronized { appendTail0(updates, vecCol) }

    private def appendTail0(updates: DataFrame, vecCol: String): Long = {
      val spark = updates.sparkSession
      val priorCensus = censusOpt
      val newEpoch = {
        import org.apache.spark.sql.graft.CensusIndex
        val e = CensusIndex.readEpoch(spark, path).getOrElse(0L) + 1L
        CensusIndex.writeEpoch(spark, path, e)
        e
      }
      val based = updates.withColumnRenamed(vecCol, "__vec")
      // schema-uniform with the cell files: __dist is the build's stats
      // column — meaningless before assignment, so an explicit null
      // (recomputed by compactTail) keeps every file's parquet schema
      // identical and the listing fallback merge-free
      val withDist = based.withColumn("__dist", lit(null).cast("double"))
      val withPq =
        if (pqMode) withDist.withColumn("__pq",
          graft.functions.pq_encode(col("__vec"), pqCodebooksNow))
        else withDist
      val toWrite =
        if (quantized)
          graft.operators.Quantize.quantize(withPq, "__vec").drop("__vec")
        else withPq
      val obs = org.apache.spark.sql.Observation()
      toWrite
        .withColumn("__cluster", lit(VectorSearch.TailCell))
        .observe(obs, count(lit(1)).as("__n"))
        .coalesce(1)
        .write.mode("append").option("compression", "snappy")
        .partitionBy("__cluster").parquet(path)
      val n = obs.get("__n").asInstanceOf[Long]
      val before = tailRowsKnown
      tailRowsKnown =
        if (before == null) null // still unknown; count lazily later
        else java.lang.Long.valueOf(before.longValue() + n)
      newTailSnapshot(); countCache.clear()
      filesPerCellCache = -1.0
      cellTombsNow = null // keyed to the epoch this append just bumped
      censusNow0 = priorCensus match {
        case Some((_, schema, oldFiles)) =>
          foldCensus(spark, schema, oldFiles,
            Set(VectorSearch.TailCell), newEpoch)
        case None => None
      }
      checkpointOnCadence(spark)
      n
    }

    /** Migrate every TAIL row into its real cell and fold the stats the
      * tail deferred — the compaction half of the [[appendTail]] LSM
      * trade. One assignment pass over the tail (the same frozen-kernel
      * rule as [[append]]; on sq8/pq layouts it runs on the dequantized
      * stored representation, like [[rebalance]]), survivors stage
      * invisibly, and the move commits through the scrub journal under
      * the REBALANCE header (tombstones, unlike scrub's, are kept — a
      * tombstoned tail row stays excluded before, during and after).
      * Radii/RMS/cellCounts/occupancy fold exactly from the same pass,
      * so post-compaction the index is indistinguishable from one whose
      * batches went through [[append]] directly (spec-pinned). Cost ∝
      * tail rows + one file per touched cell.
      *
      * Crash contract: before the journal lands the tail files are
      * untouched (stage dir is invisible and dropped by the next
      * writer); after it, replay (here, [[IvfIndex.load]], or the next
      * scrub/compact) completes the move idempotently. A crash between
      * replay and the manifest save leaves counts that lag the moved
      * rows until the next checkpoint — [[append]]'s existing cadence
      * contract, with membership correctness unaffected (searches list
      * or census the real files either way).
      *
      * @return rows compacted out of the tail
      */
    def compactTail(spark: SparkSession): Long = {
      import org.apache.hadoop.fs.Path
      val rootPath = new Path(path)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // phase 0 (locked, sub-second): pending-journal replay, stage
      // cleanup, and a FROZEN tail file list — concurrent appendTail
      // only ADDS tail files, and files added after this snapshot
      // simply wait for the next compaction
      val tailFiles: Seq[String] = maintLock.synchronized {
        IvfIndex.completeScrubIfPending(spark, path)
        deletesNow0 = null // the replay may have been a scrub's
        if (!tailPresent(spark)) Seq.empty
        else {
          val stage = new Path(rootPath, IvfIndex.ScrubStageDir)
          if (fs.exists(stage)) { fs.delete(stage, true); () }
          val tailDir =
            new Path(rootPath, s"__cluster=${VectorSearch.TailCell}")
          if (!fs.exists(tailDir)) Seq.empty
          else fs.listStatus(tailDir).toSeq
            .filter { st =>
              val nm = st.getPath.getName
              st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
            }
            .map(st => relativizeUnder(fs, rootPath, st.getPath, "compact"))
        }
      }
      if (tailFiles.isEmpty) return 0L
      val stage = new Path(rootPath, IvfIndex.ScrubStageDir)
      // name token only (part-file UUIDs guarantee uniqueness); the
      // REAL epoch bump happens in the locked commit section below,
      // immediately before the journal — a crash during the unlocked
      // stage phase then leaves the epoch untouched and every
      // persisted census still valid
      val nameToken = {
        import org.apache.spark.sql.graft.CensusIndex
        CensusIndex.readEpoch(spark, path).getOrElse(0L) + 1L
      }
      def vecExpr: Column =
        if (quantized) graft.operators.Quantize.dequantize(
          col("__codes"), col("__qmin"), col("__qmax"))
        else col("__vec")
      val absTail = tailFiles.map(f => s"$path/$f")
      val assigned = spark.read.option("basePath", path)
        .parquet(absTail: _*)
        .drop("__cluster")
        .withColumn("__cluster", appendAssign(vecExpr))
        .withColumn("__newdist",
          centroid_dist_at(vecExpr, col("__cluster"), centroids))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val stats = assigned.select(col("__cluster").as("__c"),
            col("__newdist").as("__d"))
          .groupBy(col("__c"))
          .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__s"),
            max(col("__d")).as("__m")).collect()
        val moved = stats.iterator.map(_.getLong(1)).sum
        val presentCols = assigned.columns.toSet
        val occCols = occupancyNow.keySet.filter(presentCols).toSeq.sorted
        val occAdd: Map[String, Map[(Int, String), Long]] =
          occCols.iterator.map { oc =>
            oc -> assigned.filter(col(oc).isNotNull)
              .groupBy(col("__cluster"), col(oc).cast("string").as("__v"))
              .agg(count(lit(1)).as("__n")).collect()
              .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
          }.toMap
        val toWrite =
          assigned.withColumn("__dist", col("__newdist")).drop("__newdist")
        toWrite
          .sortWithinPartitions(col("__cluster"))
          .write.mode("append").option("compression", "snappy")
          .partitionBy("__cluster").parquet(stage.toString)
        val moves: Seq[(Int, String, String, Long, Long)] =
          if (!fs.exists(stage)) Seq.empty
          else fs.listStatus(stage).toSeq.filter(_.isDirectory)
            .filter(_.getPath.getName.startsWith("__cluster="))
            .flatMap { d =>
              val c = d.getPath.getName.stripPrefix("__cluster=").toInt
              fs.listStatus(d.getPath).toSeq
                .filter { st =>
                  val nm = st.getPath.getName
                  st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
                }
                .map { st =>
                  val nm = st.getPath.getName
                  (c, relativizeUnder(fs, rootPath, st.getPath, "compact"),
                    s"__cluster=$c/compact-$nameToken-$nm",
                    st.getLen, st.getModificationTime)
                }
            }
        // commit section (locked, sub-second): epoch bump → journal →
        // replay → driver folds → manifest. The bump immediately
        // precedes the journal so a crash anywhere in the unlocked
        // stage phase above leaves the epoch — and every persisted
        // census — untouched; tail rows the ingest appended since the
        // phase-0 snapshot are NOT in `tailFiles`/`moves` and survive
        // in the tail for the next cadence.
        maintLock.synchronized {
          val newEpoch = {
            import org.apache.spark.sql.graft.CensusIndex
            val e = CensusIndex.readEpoch(spark, path).getOrElse(0L) + 1L
            CensusIndex.writeEpoch(spark, path, e)
            e
          }
          // commit point: rebalance header keeps any tombstone set
          val lines =
            Seq(IvfIndex.RebalanceJournalHeader) ++
              moves.map(m => s"MOV\t${m._2}\t${m._3}") ++
              tailFiles.map(f => s"OLD\t$f")
          val tmp = new Path(rootPath, IvfIndex.ScrubJournal + ".tmp")
          val out = fs.create(tmp, true)
          try out.write(lines.mkString("\n").getBytes("UTF-8"))
          finally out.close()
          require(fs.rename(tmp, new Path(rootPath, IvfIndex.ScrubJournal)),
            "could not commit compaction journal")
          if (failAfterJournal)
            throw new RuntimeException(
              "injected crash after compaction journal commit (test hook)")
          IvfIndex.replayScrub(fs, rootPath)
          // fold the deferred stats — append()'s folds, from this pass
          stats.foreach { r =>
            val c = r.getInt(0)
            val n = r.getLong(1); val s = r.getDouble(2); val m = r.getDouble(3)
            if (c >= 0 && c < radii.length)
              radii(c) = math.max(radii(c), math.sqrt(m))
            if (c >= 0 && c < rmsRadii.length && c < cellCounts.length) {
              val n0 = cellCounts(c)
              val meanSq = (rmsRadii(c) * rmsRadii(c) * n0 + s) /
                math.max(n0 + n, 1L)
              rmsRadii(c) = math.sqrt(meanSq)
              cellCounts(c) = n0 + n
            }
          }
          occupancyNow = occupancyNow.map { case (oc, table) =>
            occAdd.get(oc) match {
              case None => oc -> table
              case Some(add) =>
                oc -> add.foldLeft(table) { case (t, (k2, n)) =>
                  t.updated(k2, t.getOrElse(k2, 0L) + n)
                }
            }
          }
          val before = tailRowsKnown
          tailRowsKnown =
            if (before == null) null // unknown stays unknown; recount
            else java.lang.Long.valueOf(
              math.max(0L, before.longValue() - moved))
          newSnapshot(); countCache.clear()
          filesPerCellCache = -1.0
          cellTombsNow = null // epoch moved; recompute under tombstones
          censusNow0 = censusOpt match {
            case Some((_, schema, files)) =>
              val gone = tailFiles.toSet
              val kept = files.filterNot(f => gone(f.relPath))
              val added = moves.map { case (c, _, targetRel, len, mtime) =>
                org.apache.spark.sql.graft.CensusIndex.CensusFile(
                  c, targetRel, len, mtime)
              }
              Some((newEpoch, schema, kept ++ added))
            case None => None
          }
          saveManifest(spark)
          appendsSinceCheckpoint = 0
        }
        moved
      } finally { assigned.unpersist(blocking = false); () }
    }

    /** Root-relative path of `p`, with containment enforced. */
    private def relativizeUnder(fs: org.apache.hadoop.fs.FileSystem,
        root: org.apache.hadoop.fs.Path, p: org.apache.hadoop.fs.Path,
        op: String): String = {
      val rootUriPath = fs.makeQualified(root).toUri.getPath
      val s = fs.makeQualified(p).toUri.getPath
      require(s.startsWith(rootUriPath + "/"),
        s"$op file $s outside index root $rootUriPath")
      s.substring(rootUriPath.length + 1)
    }

    private def deletesDir: String = s"$path/${IvfIndex.DeletesDir}"

    /** Tombstone rows by id: excluded EXACTLY from every subsequent
      * search — through this handle immediately, through a fresh
      * [[IvfIndex.load]] via the persisted tombstone set, and through a
      * live handle in another process after [[refresh]] — without
      * touching a data file. The durable form is a parquet id list under
      * `_graft_deletes`; physical removal is [[scrub]]'s job (the
      * delete→scrub split is the standard LSM/Lucene deletion shape: an
      * O(ids) logical delete now, an O(affected files) compaction when
      * the operator chooses). Ids match on `cast(idCol as string)`, the
      * repo-wide canonical cross-type id form (the PQ phase join, the
      * upsert store). One id column per index across all delete batches.
      *
      * Probe PLANNING: the count SOURCES (occupancy, count memo,
      * cellCounts) stay tombstone-inclusive until scrub — the zero-match
      * fast path stays exact because deletion only moves true counts
      * toward zero — but the probe plan's widening/thin-support volumes
      * subtract the per-cell tombstone counts this call persists beside
      * the id set (r17; scaladoc at [[cellTombsNow]]): an inclusive
      * volume would make the ≥ k widening STOP EARLY after deletions
      * concentrated in top-ranked cells. delete() therefore pays one
      * narrow (id, cluster) scan on top of the O(ids) tombstone write —
      * still no data-file rewrite; that remains [[scrub]]'s job.
      *
      * Id canonicalization: ids match on `cast(idCol as string)`. This
      * Seq form renders the PASSED ids with `String.valueOf`, which
      * agrees with Spark's cast only for string/integral forms — both
      * the column type and the id values are gated to that set, and
      * everything else (timestamps, floats, decimals) must go through
      * the DataFrame overload below, which canonicalizes through Spark
      * itself. Without the gate a
      * diverging rendering (java.sql.Timestamp's trailing ".0", float
      * scientific-notation corners) would tombstone a string no row
      * ever casts to — a compliance delete reporting success while
      * excluding nothing.
      *
      * Single writer per index, as with [[append]].
      *
      * @return ids newly tombstoned (already-deleted ids fold to 0)
      */
    def delete(spark: SparkSession, idCol: String, ids: Seq[Any]): Long = {
      require(ids.nonEmpty, "delete of zero ids")
      ids.foreach { v =>
        require(v == null || v.isInstanceOf[String] ||
          v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer] ||
          v.isInstanceOf[java.lang.Short] || v.isInstanceOf[java.lang.Byte],
          s"delete(Seq) canonicalizes ids with String.valueOf, which " +
            s"matches Spark's cast-to-string only for string/integral " +
            s"values (got ${v.getClass.getName}) — use the DataFrame " +
            "overload, which canonicalizes through Spark itself")
      }
      // null ids can't match any row (SQL null equality) — a "null"
      // tombstone would be junk that additionally shadows a legitimate
      // string id of value "null"; reject loudly
      require(ids.forall(_ != null), "null ids cannot be tombstoned")
      // a mistyped column name would otherwise persist tombstones every
      // later search (and scrub) fails to resolve — a durably bricked
      // index with no API-level recovery
      val schema = indexDf(spark).schema
      require(schema.fieldNames.contains(idCol),
        s"'$idCol' is not a column of the index (have: " +
          s"${schema.fieldNames.filterNot(_.startsWith("__")).mkString(", ")})")
      validateIdColType(schema(idCol).dataType)
      val prior = tombstones(spark)
      prior.foreach { case (pc, _) =>
        require(pc == idCol,
          s"index already holds tombstones on '$pc' — one id column per " +
            s"index (got '$idCol')")
      }
      val strs = ids.iterator.map(String.valueOf).toSet
      val fresh = prior.map(t => strs diff t._2).getOrElse(strs)
      if (fresh.isEmpty) return 0L
      val total = prior.map(_._2.size).getOrElse(0) + fresh.size
      val budget = tuning.maxTombstoneIds
      require(total <= budget,
        s"$total tombstoned ids would exceed maxTombstoneIds ($budget) " +
          "— the serving exclusion holds the set in driver memory; " +
          "scrub() between delete batches to clear it")
      import spark.implicits._
      fresh.toSeq.sorted.map(i => (idCol, i)).toDF("col", "id")
        .coalesce(1)
        .write.mode("append").parquet(deletesDir)
      deletesNow0 = Some((idCol,
        prior.map(_._2).getOrElse(Set.empty[String]) ++ fresh))
      // the planning companion (scaladoc above): one narrow scan, keyed
      // to the post-write id count + current epoch
      cellTombsNow = computeAndPersistCellTombs(spark, idCol, total.toLong)
      fresh.size.toLong
    }

    /** Column-type gate shared by both delete forms' Seq-side rendering
      * concerns: string/integral columns are the set where the driver's
      * String.valueOf and Spark's cast-to-string provably agree.
      */
    private def validateIdColType(
        dt: org.apache.spark.sql.types.DataType): Unit = {
      import org.apache.spark.sql.types._
      val ok = dt match {
        case StringType | IntegerType | LongType | ShortType | ByteType =>
          true
        case _ => false
      }
      require(ok,
        s"delete(Seq) supports string/integral id columns (got " +
          s"${dt.simpleString}) — other types render differently under " +
          "the driver's String.valueOf vs Spark's cast-to-string (a " +
          "tombstone that matches nothing); use the DataFrame overload")
    }

    /** Distributed [[delete]]: `ids` is a ONE-column DataFrame of ids to
      * tombstone — the GDPR-batch shape. Ids are canonicalized through
      * Spark's own `cast(… as string)` (so ANY id column type renders
      * exactly as the serving exclusion will match it), de-duplicated,
      * anti-joined against the existing tombstone set and appended, all
      * DISTRIBUTED — the delete itself never materializes the batch on
      * the driver. (Serving still re-arms the driver-resident set on the
      * next search — [[IvfIndex.Tuning.maxTombstoneIds]] bounds that,
      * enforced here via one count of the post-write set.) Null ids
      * cannot match any row (SQL null equality) and are dropped. Same
      * single-writer contract and per-cell count persist as the Seq form.
      *
      * @return ids newly tombstoned (already-deleted ids fold to 0)
      */
    def delete(spark: SparkSession, idCol: String, ids: DataFrame): Long = {
      require(ids.columns.length == 1,
        s"delete(DataFrame) wants exactly one id column (got " +
          s"${ids.columns.mkString(", ")})")
      val schema = indexDf(spark).schema
      require(schema.fieldNames.contains(idCol),
        s"'$idCol' is not a column of the index (have: " +
          s"${schema.fieldNames.filterNot(_.startsWith("__")).mkString(", ")})")
      val prior = tombstones(spark)
      prior.foreach { case (pc, _) =>
        require(pc == idCol,
          s"index already holds tombstones on '$pc' — one id column per " +
            s"index (got '$idCol')")
      }
      // canonicalize through the INDEX column's type first: the serving
      // exclusion matches on cast(idCol as string), so an ids frame of
      // a different type (double 3.0 → "3.0", string "0003") would
      // otherwise tombstone renders no row ever casts to — a delete
      // that reports success and excludes nothing. Casting to the
      // column's type first makes both sides share one rendering by
      // construction; an id that cannot BE the column's type fails
      // loudly under ANSI instead of matching nothing silently.
      val strs = ids
        .select(col(ids.columns.head).cast(schema(idCol).dataType)
          .cast("string").as("id"))
        .filter(col("id").isNotNull).distinct()
      val freshDf = prior match {
        case Some(_) =>
          strs.join(spark.read.parquet(deletesDir).select(col("id")),
            Seq("id"), "left_anti")
        case None => strs
      }
      val persisted = freshDf
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = persisted.count()
        if (n == 0L) return 0L
        val total = prior.map(_._2.size.toLong).getOrElse(0L) + n
        val budget = tuning.maxTombstoneIds
        require(total <= budget,
          s"$total tombstoned ids would exceed maxTombstoneIds ($budget) " +
            "— the serving exclusion holds the set in driver memory; " +
            "scrub() between delete batches to clear it")
        persisted.select(lit(idCol).as("col"), col("id"))
          .coalesce(math.max(1, math.min(32, (n / 4000000L).toInt + 1)))
          .write.mode("append").parquet(deletesDir)
        deletesNow0 = null // re-read lazily: prior batches + this one
        cellTombsNow = computeAndPersistCellTombs(spark, idCol, total)
        n
      } finally { persisted.unpersist(blocking = false); () }
    }

    /** Physically remove tombstoned rows: rewrite ONLY the data files
      * that hold at least one, drop the originals, clear the tombstones.
      * Cost ∝ affected files — a delete confined to one cell rewrites
      * one cell's files, never the index (the scan that FINDS the files
      * reads just the id + occupancy columns, column-pruned).
      *
      * Crash-atomic via a commit journal, the manifest's
      * write-then-commit discipline applied to data files: survivors
      * land in an invisible staging dir first; the journal (stage→target
      * moves + originals to drop + the tombstone clear) is written only
      * after that job commits; replay ([[IvfIndex.load]] and the next
      * scrub both run it) is idempotent. A crash BEFORE the journal
      * leaves the pre-scrub index — old files intact, tombstones intact,
      * exclusion still exact; a crash AFTER it completes to the
      * post-scrub index on the next load. Reads STARTED on this handle
      * after scrub returns are consistent (caches invalidate after the
      * replay); reads IN FLIGHT during the replay follow the same
      * contract as [[graft.streaming.UpsertStream]] vacuum — single
      * writer, concurrent readers quiesce or tolerate a retryable read
      * failure on the dropped originals. Other handles/processes:
      * [[refresh]]/reload (the epoch bump keeps fresh loads
      * census-correct automatically).
      *
      * Driver stats stay truthful downward: cellCounts and occupancy are
      * decremented exactly (from the same pruned scan that found the
      * files), so post-scrub zero-support filters serve empty results
      * jobless; radii keep their pre-scrub values — an over-estimate
      * that biases probe ORDER toward caution, never correctness.
      *
      * @return rows physically removed
      */
    def scrub(spark: SparkSession): Long = {
      import org.apache.hadoop.fs.Path
      val rootPath = new Path(path)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // complete a prior crashed scrub first — idempotent, usually a no-op
      IvfIndex.completeScrubIfPending(spark, path)
      deletesNow0 = null // the replay may have cleared them
      cellTombsNow = null // lives inside the deletes dir; follows it
      val t = tombstones(spark)
      if (!t.exists(_._2.nonEmpty)) return 0L
      val (idc, ids) = t.get
      // a stage dir with NO journal is a scrub that crashed before its
      // commit point: its files were never visible — drop and restart
      val stage = new Path(rootPath, IvfIndex.ScrubStageDir)
      if (fs.exists(stage)) { fs.delete(stage, true); () }
      def relativize(p: Path): String =
        relativizeUnder(fs, rootPath, p, "scrub")
      // 1. affected files + exact removal counts, one pruned scan over
      //    (file, cluster, id [, occupancy columns])
      val presentCols = indexDf(spark).columns.toSet
      val occCols = occupancyNow.keySet.filter(presentCols).toSeq.sorted
      val flagged = withDeletedFlag(spark,
          indexDf(spark).withColumn("__graft_file", input_file_name()),
          idc, ids)
        .filter(col("__graft_del"))
        .select((Seq(col("__graft_file"), col("__cluster")) ++
          occCols.map(col)): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val perFile = flagged
          .groupBy(col("__graft_file"), col("__cluster"))
          .agg(count(lit(1)).as("__n")).collect()
        if (perFile.isEmpty) { // tombstones never landed in the index
          fs.delete(new Path(deletesDir), true)
          deletesNow0 = None
          cellTombsNow = null
          return 0L
        }
        val oldFiles: Seq[(String, Int)] = perFile.iterator.map { r =>
          relativize(new Path(new java.net.URI(r.getString(0)))) -> r.getInt(1)
        }.toSeq
        val perCell: Map[Int, Long] = perFile.iterator
          .map(r => r.getInt(1) -> r.getLong(2)).toSeq
          .groupBy(_._1).map { case (c, g) => c -> g.iterator.map(_._2).sum }
        val removed = perFile.iterator.map(_.getLong(2)).sum
        val occDeltas: Map[String, Map[(Int, String), Long]] =
          occCols.iterator.map { oc =>
            oc -> flagged.filter(col(oc).isNotNull)
              .groupBy(col("__cluster"), col(oc).cast("string").as("__v"))
              .agg(count(lit(1)).as("__n")).collect()
              .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
          }.toMap
        // 2. stage-name token only — the REAL epoch bump happens in the
        //    locked commit section (compactTail/rebalance's r17
        //    discipline). Bumping here would not cover a concurrent
        //    tail append's manifest checkpoint: the append (locked)
        //    could bump PAST this value and persist a census that
        //    still lists the originals scrub is about to delete —
        //    valid-looking under its own epoch after a crash between
        //    scrub's replay and scrub's saveManifest. With the bump
        //    adjacent to the journal, every epoch a concurrent writer
        //    persists predates the file motion.
        val nameToken = {
          import org.apache.spark.sql.graft.CensusIndex
          CensusIndex.readEpoch(spark, path).getOrElse(0L) + 1L
        }
        // 3. survivors → invisible staging dir (same schema incl. the
        //    __cluster partition column via basePath; snappy like the
        //    build — staged files ARE the future serving files)
        val absOld = oldFiles.map(f => s"$path/${f._1}").distinct
        withDeletedFlag(spark,
            spark.read.option("basePath", path).parquet(absOld: _*),
            idc, ids)
          .filter(!col("__graft_del")).drop("__graft_del")
          .write.mode("append").option("compression", "snappy")
          .partitionBy("__cluster").parquet(stage.toString)
        // 4. move plan from the committed stage dir
        val moves: Seq[(Int, String, String)] = // (cluster, stageRel, targetRel)
          if (!fs.exists(stage)) Seq.empty
          else fs.listStatus(stage).toSeq.filter(_.isDirectory)
            .filter(_.getPath.getName.startsWith("__cluster="))
            .flatMap { d =>
              val c = d.getPath.getName.stripPrefix("__cluster=").toInt
              fs.listStatus(d.getPath).toSeq
                .filter { st =>
                  val n = st.getPath.getName
                  st.isFile && !n.startsWith("_") && !n.startsWith(".")
                }
                .map { st =>
                  val n = st.getPath.getName
                  (c, relativize(st.getPath),
                    s"__cluster=$c/scrub-$nameToken-$n")
                }
            }
        // 5–7 run under the maintenance lock: a background-worker scrub
        // must not interleave its replay/census/manifest transition
        // with a concurrent tail append's census fold
        maintLock.synchronized {
        // epoch bump immediately before the journal (see the nameToken
        // comment at step 2): from here to saveManifest no concurrent
        // writer can persist a census, and anything persisted earlier
        // is invalidated by this bump
        val newEpoch = {
          import org.apache.spark.sql.graft.CensusIndex
          val e = CensusIndex.readEpoch(spark, path).getOrElse(0L) + 1L
          CensusIndex.writeEpoch(spark, path, e)
          e
        }
        // 5. the commit point: journal written via create-then-rename
        val lines =
          Seq(IvfIndex.ScrubJournalHeader) ++
            moves.map(m => s"MOV\t${m._2}\t${m._3}") ++
            oldFiles.map(f => s"OLD\t${f._1}")
        val tmp = new Path(rootPath, IvfIndex.ScrubJournal + ".tmp")
        val out = fs.create(tmp, true)
        try out.write(lines.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        val journal = new Path(rootPath, IvfIndex.ScrubJournal)
        require(fs.rename(tmp, journal), s"could not commit scrub journal")
        // 6. replay = the actual moves + deletes + tombstone clear
        IvfIndex.replayScrub(fs, rootPath)
        // 7. driver state: counts down-folded exactly, caches dropped,
        //    census folded (old files out, staged files in)
        perCell.foreach { case (c, n) =>
          if (c >= 0 && c < cellCounts.length)
            cellCounts(c) = math.max(0L, cellCounts(c) - n)
        }
        // tombstoned TAIL rows scrub like any others (their files group
        // under the −1 partition); they were never in cellCounts or
        // occupancy — only the tail size moves
        perCell.get(VectorSearch.TailCell).foreach { n =>
          val t = tailRowsKnown
          if (t != null)
            tailRowsKnown = java.lang.Long.valueOf(
              math.max(0L, t.longValue() - n))
        }
        occupancyNow = occupancyNow.map { case (oc, table) =>
          occDeltas.get(oc) match {
            case None => oc -> table
            case Some(deltas) =>
              oc -> deltas.foldLeft(table) {
                case (tb, ((c, _), _)) if c < 0 => tb // tail: never folded in
                case (tb, (k2, n)) =>
                  val left = tb.getOrElse(k2, 0L) - n
                  if (left > 0L) tb.updated(k2, left) else tb.removed(k2)
              }
          }
        }
        newSnapshot(); countCache.clear()
        filesPerCellCache = -1.0
        deletesNow0 = None
        cellTombsNow = null
        censusNow0 = censusOpt match {
          case Some((_, schema, files)) =>
            try {
              val gone = oldFiles.iterator.map(_._1).toSet
              val kept = files.filterNot(f => gone(f.relPath))
              val added = moves.map { case (c, _, targetRel) =>
                val st = fs.getFileStatus(new Path(rootPath, targetRel))
                org.apache.spark.sql.graft.CensusIndex.CensusFile(
                  c, targetRel, st.getLen, st.getModificationTime)
              }
              Some((newEpoch, schema, kept ++ added))
            } catch {
              case e: Exception =>
                System.err.println(
                  s"[graft] census fold after scrub failed (falling back " +
                    s"to re-listing): ${e.getMessage}")
                None
            }
          case None => None
        }
        saveManifest(spark)
        } // maintLock
        removed
      } finally { flagged.unpersist(blocking = false); () }
    }

    /** Split HOT cells in place — the incremental cure for the skew
      * that appends accumulate, between the O(batch) cost of [[append]]
      * and the O(index) cost of a full retrain. Cells holding more than
      * `hotFactor ×` the mean row count are re-fit locally (a driver
      * Lloyd over a bounded per-cell sample, [[localLloyd]] — the same
      * kernel the hierarchical build's refine step uses) and their rows
      * re-assigned among the new subcells; subcell 0 keeps the old
      * cluster id, the rest take fresh ids appended after the existing
      * table, so every COLD cell's files, stats, occupancy rows and
      * probe semantics are untouched. Cost ∝ rows in hot cells.
      *
      * Why splitting beats waiting for a retrain at scale: a skewed
      * append stream concentrates rows in few cells, and a probe that
      * must read a 10×-mean cell pays 10× that cell's bytes for the
      * same nprobe — the routing can't subdivide what the layout
      * doesn't. Splitting restores the build's cell-size contract for
      * exactly the cells that broke it. Centroid semantics follow the
      * standard IVF maintenance trade ([[append]]'s scaladoc): the new
      * subcentroids come from the CURRENT stored rows (on sq8/pq
      * layouts: the dequantized stored representation — the thing
      * probes actually score), and the drift baseline is kept, so
      * [[driftRatio]] reads the improvement.
      *
      * Durability: same commit-journal discipline as [[scrub]] (staged
      * survivor files, journal written only after the stage job
      * commits, idempotent replay in [[IvfIndex.load]]), under a
      * rebalance header that — unlike scrub's — leaves any tombstone
      * set alone. A [[scrub]] runs first regardless: physically
      * removing tombstoned rows before re-fitting means deleted rows
      * neither steer the subcentroids nor survive the rewrite.
      *
      * Single writer per index; the RETURNED handle is the index
      * afterwards (this one's caches are dropped, but its centroid
      * table is frozen by construction and must not keep serving).
      *
      * @return a fresh handle over the rebalanced index (`this` when no
      *         cell is hot)
      */
    def rebalance(spark: SparkSession, hotFactor: Double = 2.0,
        maxCells: Int = 65536, maxTrainPerCell: Int = 65536,
        seed: Long = 42L,
        maxTrainBytesPerCell: Long = 128L << 20): IvfIndex = {
      require(hotFactor > 1.0, s"hotFactor must exceed 1 (got $hotFactor)")
      // the per-cell fit sample is collected to the DRIVER serially per
      // hot cell, so the real budget is bytes, not rows: 65536 rows is
      // ~0.7 GB at 2688 float dims. The byte cap scales the row cap by
      // the layout's width (default ≤ 128 MB per cell sample ≈ 12.5k
      // rows at 2688 dims, the full 65536 at ≤ 512 dims); localLloyd's
      // quality is sample-bounded anyway (it subsamples past ~100k).
      val trainCap = VectorSearch.rebalanceTrainCap(
        centroids.headOption.map(_.length).getOrElse(0),
        maxTrainPerCell, maxTrainBytesPerCell)
      scrub(spark)
      // fold any streaming TAIL first: hot-cell detection reads
      // cellCounts, which only compaction updates — a skewed stream's
      // rows otherwise sit invisible in the tail and nothing looks hot
      compactTail(spark)
      if (cellCounts.isEmpty) return this
      val k0 = centroids.length
      val totalRows = cellCounts.sum
      if (totalRows <= 0L) return this
      val mean = totalRows.toDouble / k0
      // deterministic split plan: hottest first for the id budget, then
      // executed in ascending cell order so new ids are reproducible
      var budget = maxCells - k0
      val hot = cellCounts.zipWithIndex
        .filter { case (n, _) => n > hotFactor * mean }
        .sortBy { case (n, c) => (-n, c) }
        .flatMap { case (n, c) =>
          val want = math.min(64, math.ceil(n / mean).toInt)
          val m = math.min(want, budget + 1) // m−1 fresh ids
          if (m >= 2) { budget -= (m - 1); Some((c, m)) } else None
        }
        .sortBy(_._1)
      if (hot.isEmpty) return this
      import org.apache.hadoop.fs.Path
      val rootPath = new Path(path)
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def relativize(p: Path): String =
        relativizeUnder(fs, rootPath, p, "rebalance")
      val stage = new Path(rootPath, IvfIndex.ScrubStageDir)
      if (fs.exists(stage)) { fs.delete(stage, true); () }
      // the stored representation probes score — what the re-fit and the
      // re-assignment must both run on
      def vecExpr: Column =
        if (quantized) graft.operators.Quantize.dequantize(
          col("__codes"), col("__qmin"), col("__qmax"))
        else col("__vec")
      // per-cell local fits from bounded driver samples
      var nextId = k0
      val plans: Seq[(Int, Array[Array[Float]], Array[Int])] =
        hot.toSeq.map { case (c, m) =>
          val frac = math.min(1.0,
            trainCap.toDouble / math.max(1L, cellCounts(c)))
          val src = indexDf(spark).filter(col("__cluster") === c)
            .select(vecExpr.as("__v"))
          val pts = (if (frac >= 1.0) src
            else src.sample(withReplacement = false, frac, seed + c))
            .collect().map(_.getSeq[Float](0).toArray)
          val subs = localLloyd(pts, m, seed + c, 20)
          val gids = new Array[Int](subs.length)
          if (subs.nonEmpty) gids(0) = c
          var i = 1
          while (i < subs.length) { gids(i) = nextId; nextId += 1; i += 1 }
          (c, subs, gids)
        }.filter(_._2.length >= 2)
      if (plans.isEmpty) return this
      val newK = nextId
      val newCents = new Array[Array[Float]](newK)
      System.arraycopy(centroids, 0, newCents, 0, k0)
      plans.foreach { case (_, subs, gids) =>
        var i = 0
        while (i < subs.length) { newCents(gids(i)) = subs(i); i += 1 }
      }
      // stage-name token only; the REAL epoch bump moved into the
      // locked commit section (compactTail's discipline): a crash in
      // the unlocked fit/stage phases leaves the epoch — and every
      // persisted census — untouched
      val nameToken = {
        import org.apache.spark.sql.graft.CensusIndex
        CensusIndex.readEpoch(spark, path).getOrElse(0L) + 1L
      }
      // one unioned re-assignment frame over every hot cell: a row only
      // competes among ITS OWN cell's subcentroids — that is what makes
      // this a split (cold cells unaffected) rather than a re-train
      val frames = plans.map { case (c, subs, gids) =>
        indexDf(spark).filter(col("__cluster") === c)
          .withColumn("__local", graft.functions.nearest_centroid(vecExpr, subs))
          .withColumn("__newdist",
            centroid_dist_at(vecExpr, col("__local"), subs))
          .withColumn("__cluster",
            element_at(typedLit(gids.toSeq), col("__local") + 1))
          .drop("__local")
      }
      val assigned = frames.reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // exact per-new-cell stats from the full rewrite pass — the same
        // narrow (cluster, squared-dist) aggregate the build's stats use
        val stats = assigned.select(col("__cluster").as("__c"),
            col("__newdist").as("__d"))
          .groupBy(col("__c"))
          .agg(count(lit(1)).as("__n"), sum(col("__d")).as("__s"),
            max(col("__d")).as("__m")).collect()
        val presentCols = indexDf(spark).columns.toSet
        val occCols = occupancyNow.keySet.filter(presentCols).toSeq.sorted
        val occNew: Map[String, Map[(Int, String), Long]] =
          occCols.iterator.map { oc =>
            oc -> assigned.filter(col(oc).isNotNull)
              .groupBy(col("__cluster"), col(oc).cast("string").as("__v"))
              .agg(count(lit(1)).as("__n")).collect()
              .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
          }.toMap
        val toWrite =
          assigned.withColumn("__dist", col("__newdist")).drop("__newdist")
        toWrite
          .sortWithinPartitions(col("__cluster"))
          .write.mode("append").option("compression", "snappy")
          .partitionBy("__cluster").parquet(stage.toString)
        // journal = commit point (rebalance header: tombstones, if an
        // external writer broke the single-writer contract, are KEPT)
        val oldFiles: Seq[String] = plans.map(_._1).flatMap { c =>
          val d = new Path(rootPath, s"__cluster=$c")
          if (!fs.exists(d)) Seq.empty
          else fs.listStatus(d).toSeq
            .filter { st =>
              val n = st.getPath.getName
              st.isFile && !n.startsWith("_") && !n.startsWith(".")
            }
            .map(st => relativize(st.getPath))
        }
        // (cluster, stageRel, targetRel, length, mtime) — the census
        // entries for the post-move files are derivable from the STAGE
        // listing (rename preserves length; mtime is informational)
        val moves: Seq[(Int, String, String, Long, Long)] =
          if (!fs.exists(stage)) Seq.empty
          else fs.listStatus(stage).toSeq.filter(_.isDirectory)
            .filter(_.getPath.getName.startsWith("__cluster="))
            .flatMap { d =>
              val c = d.getPath.getName.stripPrefix("__cluster=").toInt
              fs.listStatus(d.getPath).toSeq
                .filter { st =>
                  val n = st.getPath.getName
                  st.isFile && !n.startsWith("_") && !n.startsWith(".")
                }
                .map { st =>
                  val n = st.getPath.getName
                  (c, relativize(st.getPath),
                    s"__cluster=$c/rebal-$nameToken-$n",
                    st.getLen, st.getModificationTime)
                }
            }
        // the post-rebalance handle: cold-cell stats copied, split-cell
        // stats exact from the rewrite pass, drift baseline kept
        val newRadii = new Array[Double](newK)
        val newRms = new Array[Double](newK)
        val newCounts = new Array[Long](newK)
        var i = 0
        while (i < k0) {
          if (i < radii.length) newRadii(i) = radii(i)
          if (i < rmsRadii.length) newRms(i) = rmsRadii(i)
          if (i < cellCounts.length) newCounts(i) = cellCounts(i)
          i += 1
        }
        // Every split-plan gid starts from ZERO before the stats fold:
        // subcell 0 reuses the hot cell's id, and if the re-assignment
        // sends it no rows (the local fit trained on a sample; the full
        // cell can assign away from any one subcentroid) there is no
        // stats row to overwrite the seed — the emptied cell would keep
        // its pre-split count and cellCounts.sum would over-count rows
        // that now live in sibling subcells. Fresh ids (>= k0) are
        // already zero; this also zeroes the reused id.
        plans.foreach { case (_, _, gids) =>
          gids.foreach { g =>
            newCounts(g) = 0L; newRms(g) = 0.0; newRadii(g) = 0.0
          }
        }
        stats.foreach { r =>
          val c = r.getInt(0)
          val n = r.getLong(1); val s = r.getDouble(2); val m = r.getDouble(3)
          newCounts(c) = n
          newRms(c) = math.sqrt(s / math.max(1L, n))
          newRadii(c) = math.sqrt(m)
        }
        val hotSet = plans.map(_._1).toSet
        val mergedOcc = occupancyNow.map { case (oc, table) =>
          val kept = table.filterNot { case ((c, _), _) => hotSet(c) }
          oc -> (kept ++ occNew.getOrElse(oc, Map.empty))
        }
        val fresh = new IvfIndex(path, newCents, baselineDist,
          newRadii, newRms, newCounts, mergedOcc, occupancyTypes)
        fresh.dataSchemaNow = dataSchemaNow
        fresh.pqCodebooksNow = pqCodebooksNow
        fresh.pqIdColNow = pqIdColNow
        // the handle SWAP must not silently reset an operator's tuning —
        // a streaming ingest that rebalances mid-stream keeps serving
        // with the knobs it was launched with
        fresh.tuning = tuning
        fresh.builtWithHierarchicalFit = builtWithHierarchicalFit
        fresh.builtWithGroupedAssign = builtWithGroupedAssign
        // the scrub above guarantees no tombstones survive into the
        // split — spare the fresh handle the first-search probe
        fresh.deletesNow0 = None
        // commit section (locked, sub-second): a background-worker
        // rebalance must not interleave its epoch/census/manifest
        // transition with concurrent tail appends — the census snapshot
        // below is taken INSIDE the lock so tail files appended during
        // the fit/stage phases are carried into the fresh handle
        maintLock.synchronized {
          val newEpoch = {
            import org.apache.spark.sql.graft.CensusIndex
            val e = CensusIndex.readEpoch(spark, path).getOrElse(0L) + 1L
            CensusIndex.writeEpoch(spark, path, e)
            e
          }
          // the tail survives a split untouched (its files are not in
          // any hot cell's dir) — the fresh handle keeps serving it
          fresh.tailRowsKnown = tailRowsKnown
          // census fold: hot cells' old files out, staged moves in
          // (stage listing stats — the files exist at their targets
          // only after the replay below, which is exactly why the
          // manifest commits THROUGH the journal)
          fresh.censusNow0 = censusOpt match {
            case Some((_, schema, files)) =>
              val gone = oldFiles.toSet
              val kept = files.filterNot(f => gone(f.relPath))
              val added = moves.map { case (c, _, targetRel, len, mtime) =>
                org.apache.spark.sql.graft.CensusIndex.CensusFile(
                  c, targetRel, len, mtime)
              }
              Some((newEpoch, schema, kept ++ added))
            case None => None
          }
          // the new manifest is FULLY WRITTEN but uncommitted: its
          // commit marker is a journal step, so the centroid-table
          // growth and the file moves land atomically — a crash
          // anywhere leaves load() either the old manifest over the old
          // layout or, after replay, the new manifest over the new
          // layout; never a manifest that doesn't know cells the data
          // files use
          val vdir = fresh.saveManifest(spark, commit = false)
          val lines =
            Seq(IvfIndex.RebalanceJournalHeader) ++
              moves.map(m => s"MOV\t${m._2}\t${m._3}") ++
              oldFiles.map(f => s"OLD\t$f") ++
              Seq(s"CMT\t${relativize(new Path(vdir))}/" +
                graft.operators.ManifestLayout.CommitMarker)
          val tmp = new Path(rootPath, IvfIndex.ScrubJournal + ".tmp")
          val out0 = fs.create(tmp, true)
          try out0.write(lines.mkString("\n").getBytes("UTF-8"))
          finally out0.close()
          require(fs.rename(tmp, new Path(rootPath, IvfIndex.ScrubJournal)),
            "could not commit rebalance journal")
          if (failAfterJournal)
            throw new RuntimeException(
              "injected crash after rebalance journal commit (test hook)")
          IvfIndex.replayScrub(fs, rootPath)
          // this handle's centroid table is now stale — poison its
          // caches so accidental reads at least re-list current files
          newSnapshot(); countCache.clear()
          censusNow0 = None; filesPerCellCache = -1.0
        }
        fresh
      } finally { assigned.unpersist(blocking = false); () }
    }

    /** Persist the index's driver-side state — centroids, both radius
      * families, per-cell sample counts, occupancy and the drift
      * baseline — under `<path>/_graft_manifest`. The underscore prefix
      * keeps the manifest invisible to the index's own parquet scans
      * (Hadoop's hidden-file filter skips `_`/`.` paths), and everything
      * is written through Spark, so the manifest lands on whatever
      * filesystem the index lives on. [[buildIvf]] calls this at build
      * time and [[append]] re-checkpoints on its own cadence
      * ([[IvfIndex.Tuning.manifestCheckpointEvery]]) — the data
      * files are already on disk, only the stats evolve in memory; an
      * explicit call remains the manual checkpoint for callers that
      * disabled the cadence. [[IvfIndex.load]] then
      * reopens the index in a FRESH process without retraining or
      * rescanning anything — the cross-process serving path that makes
      * the index a durable artifact rather than one session's object.
      * Size: (numClusters × dims) floats — ~10 MB at the sf1 1000-cell
      * index, ~700 MB at the 65536 cap, always ≪ the data files.
      *
      * Durability shape (r9): each checkpoint writes a FRESH
      * `v\########` directory and marks it complete with a
      * `_graft_commit` file written LAST — never an in-place overwrite.
      * A crash mid-checkpoint leaves an uncommitted dir that [[load]]
      * ignores (the previous committed version keeps serving), and a
      * concurrent reader can never observe a half-replaced manifest —
      * the failure modes of the pre-r9 delete-then-rewrite layout. The
      * two newest committed versions are kept (a grace window for
      * in-flight readers); older versions and sub-floor crashed dirs
      * are vacuumed on the next checkpoint. Single writer per index,
      * as with [[append]] itself.
      *
      * Layout: ONE parquet dataset `$vdir/manifest` holds every section
      * (cells, occupancy, predicate-count memo, meta, pq codebooks, file
      * census) as [[IvfIndex.ManifestRow]]s tagged by `section` — one
      * write job per checkpoint and one typed collect per [[load]], and
      * on an object store one metadata round-trip. Rows append in
      * byte-bounded slices (~48 MB, about 4096 cells × 2688 dims), so a
      * cap-sized manifest never materializes ~700 MB of centroid payload
      * in one driver Seq, while every manifest below ~4096 cells still
      * lands in a single job.
      *
      * With `commit = false` the version directory is fully written but
      * its `_graft_commit` marker is NOT created — invisible to [[load]]
      * until someone creates it. [[rebalance]] uses this to make the
      * marker a journal replay step, so the grown centroid table and the
      * moved data files commit ATOMICALLY: a crash anywhere leaves
      * either the old manifest + old layout or (after replay) the new
      * manifest + new layout, never a manifest that doesn't know cells
      * the files use. Returns the version directory.
      */
    def saveManifest(spark: SparkSession, commit: Boolean = true): String = {
      import org.apache.hadoop.fs.Path
      import spark.implicits._
      import IvfIndex.ManifestRow
      val dir = s"$path/_graft_manifest"
      val root = new Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val versions = IvfIndex.manifestVersions(fs, root)
      val next = ManifestLayout.nextVersion(versions)
      val vdir = ManifestLayout.versionDir(dir, next)
      val sectionRows = scala.collection.mutable.ArrayBuffer.empty[ManifestRow]
      var firstWrite = true
      var sliceBytes = 0L
      // byte-budget slicer: cell rows are fat (the centroid array),
      // occ/cnt/file rows ~100 B
      val sliceBudget = 48L << 20
      def addRow(r: ManifestRow, estBytes: Long): Unit = {
        sectionRows += r
        sliceBytes += estBytes
        if (sliceBytes >= sliceBudget) flush()
      }
      def flush(): Unit = {
        if (sectionRows.nonEmpty || firstWrite) {
          spark.createDataset(
              spark.sparkContext.parallelize(sectionRows.toSeq, 1))
            .write.mode("append").parquet(s"$vdir/manifest")
          sectionRows.clear()
          sliceBytes = 0L
          firstWrite = false
        }
      }
      (0 until centroids.length).foreach { c =>
        addRow(ManifestRow("cell", cluster = c,
          vec = centroids(c),
          radius = if (c < radii.length) radii(c) else 0.0,
          rms = if (c < rmsRadii.length) rmsRadii(c) else 0.0,
          n = if (c < cellCounts.length) cellCounts(c) else 0L),
          4L * centroids(c).length + 48)
      }
      occupancyNow.toSeq.foreach { case (oc, t) =>
        val ct = occupancyTypes.getOrElse(oc, "string")
        t.iterator.foreach { case ((c, v), n) =>
          addRow(ManifestRow("occ", cluster = c, col = oc, value = v,
            coltype = ct, n = n), 100L)
        }
      }
      // Persisted predicate-count memo (r16): the per-(filter, cluster)
      // EXACT match counts this handle has computed — the cold half of
      // a fresh process's first conjunction-filtered probe plan (the
      // pushed count scan, 0.7–0.97 s at the measured 4k/8k-file
      // layouts; the reference's sel_0001..sel_1 tiers are conjunction
      // shapes occupancy alone cannot serve). Persisting the memo makes
      // plan_cold ≈ plan_warm for every filter ANY prior process of
      // this index generation planned, with counts — and therefore
      // every widening/thin-support/exact-switch decision — EXACT and
      // identical by construction. (The sketch alternative was
      // rejected: driver-side bounds from per-cell min/max or
      // equi-depth sketches over-count a conjunction's support by the
      // unconditioned numeric selectivity, which flips the
      // thin-support decision at precisely the ultra-selective tier
      // that needs it, and an exact per-(cell, category, region) joint
      // table is a coarsened copy of the data — SCALE.md r16.)
      // Validity is the census epoch: counts describe a frozen file
      // set, so load() admits them under the same epoch gate as the
      // census. Cleared by append()/refresh() like the in-memory memo.
      locally {
        val snap = {
          import scala.jdk.CollectionConverters._
          countCache.asScala.toSeq.take(256)
        }
        if (snap.nonEmpty && censusOpt.isDefined) {
          snap.foreach { case (fk, m) =>
            // a genuinely-zero-match filter memoizes an EMPTY map —
            // persist it as a (-1, 0) sentinel so a fresh process keeps
            // serving the zero without re-scanning. Maps that carry a
            // TAIL entry are NOT persisted: cluster −1 is the sentinel's
            // key, and a tail count is transient anyway (compaction
            // re-keys it; the epoch gate would discard it regardless)
            if (m.isEmpty) {
              addRow(ManifestRow("cnt", fkey = fk, cluster = -1, n = 0L),
                100L)
            } else if (!m.contains(VectorSearch.TailCell)) {
              m.iterator.foreach { case (c, n) =>
                addRow(ManifestRow("cnt", fkey = fk, cluster = c, n = n),
                  100L)
              }
            }
          }
        }
      }
      // meta: the data schema is a property of the FILES and persists
      // whenever the handle knows it — censusEpoch alone gates the
      // census, so a stale census does not strand schema-derived state
      // (storage mode) on a fresh load(); pqIdCol is the id column the
      // two PQ serving phases join on
      val cn = censusOpt
      val ds = dataSchemaOpt
      addRow(ManifestRow("meta",
        baselineDist = baselineDist,
        censusEpoch = cn.map(_._1).getOrElse(Long.MinValue),
        dataSchemaJson = ds.map(_.json).orNull,
        pqIdCol = pqIdColNow), 1024L)
      // PQ codebooks: m × ksub narrow rows (≤ ~25k at m=96) — frozen
      // for the index's lifetime, persisted with every version like the
      // centroid table
      if (pqCodebooksNow != null) {
        for {
          j <- pqCodebooksNow.indices
          c <- pqCodebooksNow(j).indices
        } {
          addRow(ManifestRow("pq", subspace = j, pqcent = c,
            vec = pqCodebooksNow(j)(c)),
            4L * pqCodebooksNow(j)(c).length + 48)
        }
      }
      // the file census itself: one narrow row per data file
      cn.foreach { case (_, _, files) =>
        files.foreach { f =>
          addRow(ManifestRow("file", cluster = f.cluster,
            relpath = f.relPath, length = f.length, mtime = f.modTime),
            100L + f.relPath.length)
        }
      }
      flush()
      // commit marker LAST — the version is invisible to load() until
      // this file exists, which is the whole atomicity argument — then
      // vacuum to the two newest committed versions (shared layout)
      if (commit) ManifestLayout.commitAndVacuum(fs, dir, next, versions)
      vdir
    }

    /** Centroid-drift probe — the maintenance hook behind [[append]]'s
      * frozen-centroid trade: current mean assigned-centroid distance over
      * a sample of the index, as a ratio to the build-time baseline.
      * ≈ 1.0 means appends still match the trained distribution; a
      * sustained rise means the frozen centroids no longer describe the
      * data, probe lists are growing lopsided, and recall at fixed nprobe
      * is decaying — re-train ([[buildIvf]]) when it crosses the caller's
      * threshold (1.5 is the usual one: quantization error rising 50%
      * over build time coincides with measurable recall loss at fixed
      * nprobe while staying above sampling noise).
      *
      * Cost: a sampled aggregate of the stored `__dist` column — 8
      * bytes/row, no vector decode, no kernel, no shuffle. Correct
      * because centroids are FROZEN for the index's lifetime: every
      * row's stored assigned distance (written by build/append against
      * those centroids) equals what
      * [[graft.functions.nearest_centroid_dist]] would recompute now, so
      * the column IS the current drift measurement (VectorSearchSpec
      * pins it equal to the recomputation). No exact recall evaluation
      * (which would need exact top-k ground truth, i.e. full scans per
      * query). Run it per maintenance window, not per append.
      */
    def driftRatio(spark: SparkSession, sampleFraction: Double = 0.1,
        seed: Long = 42L): Double = {
      require(!baselineDist.isNaN,
        "driftRatio: index has no build-time baseline (rebuild with buildIvf)")
      val sampled =
        if (sampleFraction >= 1.0) indexDf(spark)
        else indexDf(spark).sample(withReplacement = false, sampleFraction, seed)
      val cur = sampled
        .select(avg(col("__dist")).as("d"))
        .head().getDouble(0)
      // an all-identical degenerate build can have baseline 0; any real
      // spread after appends then reads as infinite drift, which is the
      // right signal
      if (baselineDist == 0.0) { if (cur == 0.0) 1.0 else Double.PositiveInfinity }
      else cur / baselineDist
    }
  }

  /** The grouping the two-level assignment kernel walks: ~√k coarse
    * cells over the FINE centroid table (not the data). `cents(g)` is
    * the coarse centroid, `members(g)` the fine cluster ids assigned to
    * it. Centroids are frozen for an index's lifetime, so a grouping
    * never goes stale.
    */
  private final case class CoarseStructure(
      cents: Array[Array[Float]],
      members: Array[Array[Int]])

  private object CoarseStructure {
    /** Cluster the fine centroids into m = ⌈√k⌉ coarse cells: seed with
      * evenly-spaced fine centroids (deterministic — no RNG), three Lloyd
      * refinements (assign → means), then member lists. Cost: ~4
      * assignment passes of k·m·d mul-adds, parallelized across cores.
      * Driver-only; no Spark jobs, no data-file reads.
      */
    def build(centroids: Array[Array[Float]]): CoarseStructure = {
      val k = centroids.length
      val m = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
      def sqDist(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) {
          val d = a(i).toDouble - b(i); acc += d * d; i += 1
        }
        acc
      }
      def assign(coarse: Array[Array[Float]]): Array[Int] = {
        val out = new Array[Int](k)
        java.util.stream.IntStream.range(0, k).parallel().forEach { f =>
          var best = 0; var bestD = Double.MaxValue
          var g = 0
          while (g < coarse.length) {
            val d = sqDist(centroids(f), coarse(g))
            if (d < bestD) { bestD = d; best = g }
            g += 1
          }
          out(f) = best
        }
        out
      }
      def means(asg: Array[Int], coarse: Array[Array[Float]]): Array[Array[Float]] = {
        val dims = centroids.headOption.map(_.length).getOrElse(0)
        val sums = Array.fill(m)(new Array[Double](dims))
        val ns = new Array[Int](m)
        var f = 0
        while (f < k) {
          val g = asg(f); val c = centroids(f); val s = sums(g)
          var i = 0
          while (i < dims) { s(i) += c(i); i += 1 }
          ns(g) += 1
          f += 1
        }
        Array.tabulate(m) { g =>
          if (ns(g) == 0) coarse(g) // keep the seed; cell stays empty
          else {
            val s = sums(g)
            Array.tabulate(s.length)(i => (s(i) / ns(g)).toFloat)
          }
        }
      }
      // one seed per contiguous id block, jittered to a prime-spread
      // offset WITHIN its block (collision-free, deterministic): plain
      // evenly-spaced picks alias with any periodic structure in the
      // centroid id order — a stride that lands ≡ 0 mod the period puts
      // every seed in the same region and one Lloyd pass cannot recover
      val seed = Array.tabulate(m) { g =>
        val lo = (g.toLong * k / m).toInt
        val hi = ((g + 1).toLong * k / m).toInt
        val len = math.max(1, hi - lo)
        centroids(lo + ((g.toLong * 7919L) % len).toInt)
      }
      // three Lloyd rounds: round one mostly recovers from any seed
      // clumping, the next two settle the group means
      var refined = seed
      var it = 0
      while (it < 3) { refined = means(assign(refined), refined); it += 1 }
      val asg = assign(refined)
      val memberBuf = Array.fill(m)(new scala.collection.mutable.ArrayBuffer[Int]())
      var f = 0
      while (f < k) { memberBuf(asg(f)) += f; f += 1 }
      CoarseStructure(refined, memberBuf.map(_.toArray))
    }
  }

  /** Cell counts at/above this threshold ASSIGN through the two-level
    * kernel ([[graft.functions.NearestCentroidGrouped]]): the flat
    * assignment pass is n·k·d mul-adds, and with the √n cell-sizing rule
    * that is the index path's one super-linear cost — at the reference's
    * 10M tier (k = 3162, d = 2688) ~8.5·10¹³ mul-adds, ~7 h single-node,
    * vs ~(1+probes)·√k per row two-level (~28× less).
    *
    * 512 (r11; was 4096): BENCH_assign_attr_r11 measured the flat kernel as
    * the dominant CPU term of sf1's `assign_write` (90.9 s of the step
    * on the real 1M × 2688 table at k = 1000, vs 3.3 s decode and a
    * ~free sort) with the grouped kernel 4.1× faster at equal mean
    * chosen-cell distance; the in-memory kernel grid (SCALE.md) extends
    * the win down to k = 512 (1.82×, zero disagreements) and it grows
    * monotonically above (3.1–10.3× at 1024–65536). Below 512 the flat
    * pass is a trivial share of its build (sf0.1's 316-cell build is
    * ~7 s total) and exactness is free — 512 also matches
    * hierarchicalFitMinK, one definition of "large" for the index.
    * Assignment at/above the threshold is approximate in the standard
    * hierarchical-quantizer sense — a small fraction of rows (1.7% on
    * the sf1 table, mean distance inflation 1.000: near-exact ties)
    * lands in a near-equidistant neighbor cell (BENCH_assign_attr_r11
    * has the rate; VectorKernelsSpec pins exact parity when every group
    * is probed and near-equality of the chosen distance otherwise; the
    * sf1 operating points keep recall ≥ 0.9 — BENCH_scale_sf1_r11). The
    * stats/radii pass uses the SAME selection rule, so radii always
    * describe the cells rows actually land in.
    */
  private[graft] val twoLevelAssignMinCells: Int = 512
  private[graft] val twoLevelAssignProbes: Int = 4

  /** (assignment column, true-squared-distance column) builders for a
    * centroid table — flat kernels below `minCells` (default
    * [[twoLevelAssignMinCells]]), two-level at/above it (grouping = the
    * deterministic [[CoarseStructure.build]] clustering of the
    * centroids). `minCells` is a BUILD-scoped parameter, not a process
    * global: fixture builds (q118) force the production grouped kernel
    * through a small index without mutating state other builds read.
    */
  private[graft] def assignKernels(centroids: Array[Array[Float]],
      minCells: Int = twoLevelAssignMinCells)
      : (Column => Column, Column => Column) =
    if (centroids.length >= minCells) {
      val cr = CoarseStructure.build(centroids)
      (v => graft.functions.nearest_centroid_grouped(
          v, centroids, cr.cents, cr.members, twoLevelAssignProbes),
        v => graft.functions.nearest_centroid_grouped_dist(
          v, centroids, cr.cents, cr.members, twoLevelAssignProbes))
    } else
      (v => graft.functions.nearest_centroid(v, centroids),
        v => graft.functions.nearest_centroid_dist(v, centroids))

  object IvfIndex {

    /** A handle's serving and maintenance knobs, in one immutable value
      * ([[IvfIndex.tuning]]). The defaults ARE the production values;
      * specs, fixture queries and harnesses that need a forced or
      * disabled mechanism set a `copy` on their own handle.
      *
      *   - `exactScanFraction` / `exactScanMinCells` — the cost-based
      *     exact-vs-probe switch ([[IvfIndex.exactScanWins]]): a
      *     filtered probe plan visiting cells that hold at least this
      *     fraction of the index's rows runs the exact pre-filtered scan
      *     instead (recall 1.0 by construction, one pushed scan). 0.8 is
      *     from the sf1 order-controlled A/B (BENCH_scale_sf1_r10:
      *     `ann_wall_{engine,probe}_sel_10`): probed wall is ~LINEAR in
      *     probed rows with negligible per-cell constant — 0.97 s at
      *     12.8% of a 1M×2688 index vs 8.9 s for the exact scan — so the
      *     exact path only wins when the plan approaches the whole index.
      *     ≤ 0 disables the switch (both terms). It engages only at/above
      *     `exactScanMinCells` (256) cells: tiny fixtures probe 1-of-3
      *     cells at 33% of rows by DESIGN, while real indexes sit well
      *     above it (sf0.1 derives 316 cells, sf1 1000).
      *   - `widenFactor` — filtered probe plans widen down the ranked
      *     match-bearing cells until they hold ≥ this × k candidate rows
      *     (floor k; 1.0 is the classic ≥ k widening). A larger factor
      *     was MEASURED AND REFUTED on the r11 2M × 2688 index
      *     (BENCH_widen_r12.json, factor 1 vs 4: every tier's plan
      *     bit-identical at np64/np128): what under-probes the
      *     ultra-selective tier is the ORDER, which `thinFactor` fixes.
      *   - `thinFactor` / `thinReadFraction` — the support-scan rule
      *     (r12): a filter whose ENTIRE match count is ≤ `thinFactor` × k
      *     rows, and whose match-bearing cells hold ≤ `thinReadFraction`
      *     of the index's rows, plans ALL match-bearing cells — recall
      *     1.0 at any nprobe. 16 engages the 2M point's 0.06% tier (1200
      *     matches, 0.683 → 1.0 @ np64) and leaves the 0.6% tier (11.3k)
      *     out; 0.35 follows from the exact-switch calibration, so a
      *     gated support scan costs ≤ ~0.4× the exact scan. ≤ 0 disables.
      *   - `deleteInSetMaxIds` — above this many tombstoned ids the
      *     serving exclusion tests ids against a broadcast id set instead
      *     of an `InSet` literal: a million-id literal is re-planned and
      *     re-shipped with EVERY plan, while the broadcast set is built
      *     once per tombstone snapshot.
      *   - `maxTombstoneIds` — driver-resident tombstone budget: the
      *     serving exclusion holds the id set in DRIVER memory under
      *     either mechanism, ~60–100 B per id, so 4M ids is ~0.4 GB. Past
      *     it, [[IvfIndex.scrub]] between delete batches.
      *   - `manifestCheckpointEvery` — every N-th [[IvfIndex.append]] /
      *     [[IvfIndex.appendTail]] persists the folded driver-side stats
      *     ([[IvfIndex.saveManifest]]), so a process that appends and
      *     dies cannot leave [[IvfIndex.load]] with stats that predate its
      *     batches. `Some(1)` checkpoints every append, `Some(n ≤ 0)`
      *     leaves [[IvfIndex.saveManifest]] to the caller, and `None`
      *     derives the cadence from the handle's own cell count when it
      *     is used ([[checkpointCadence]]), so a handle whose cell count
      *     grows (a rebalance split) gets its own size's cadence.
      */
    final case class Tuning(
        exactScanFraction: Double = 0.8,
        exactScanMinCells: Int = 256,
        widenFactor: Double = 1.0,
        thinFactor: Double = 16.0,
        thinReadFraction: Double = 0.35,
        deleteInSetMaxIds: Int = 8192,
        maxTombstoneIds: Int = 4000000,
        manifestCheckpointEvery: Option[Int] = None) {

      /** Appends per manifest checkpoint for a handle of `cells` cells. */
      def checkpointEvery(cells: Int): Int =
        manifestCheckpointEvery.getOrElse(checkpointCadence(cells))
    }

    /** The default checkpoint cadence SCALES with the manifest's own
      * size: every append up to 8192 cells (manifest ≤ ~90 MB, ≪ any real
      * batch, rides in the append's shadow), then one checkpoint per
      * ⌈cells/8192⌉ appends — a cap-sized 65536-cell manifest (~700 MB of
      * centroid floats) checkpoints every 8th append instead of paying
      * its own weight on each one.
      */
    private[graft] def checkpointCadence(cells: Int): Int =
      math.max(1, (cells + 8191) / 8192)

    /** Phase-1 shortlist multiple: PQ serving re-ranks the top
      * (k · pqOverfetch) ADC candidates sq8-exact. 16 is from the
      * 1M × 2688 measurement (BENCH_scale_idxpq1m_r16): at 8 the broad
      * tiers were shortlist-capped (sel_1 recall 0.887 flat across nprobe
      * — ADC ranking loss, not probe loss) while phase 2 stays
      * O(k · overfetch) rows either way; 16 recovers the sq8 ranking's
      * recall at negligible phase-2 cost.
      */
    private[graft] val pqOverfetch: Int = 16

    /** A prepared scan's cache key: what [[IvfIndex.servingDf]] reads,
      * compared by INSTANCE (a relation or tombstone set swapped for an
      * equal-looking one is a different snapshot; a million-id set is
      * never hashed), plus the exclusion shape and the filter key.
      */
    private[operators] final class ScanKey(val df: DataFrame,
        val tombs: AnyRef, val broadcastIds: Boolean, val filter: String) {
      override def equals(o: Any): Boolean = o match {
        case k: ScanKey => (k.df eq df) && (k.tombs eq tombs) &&
          k.broadcastIds == broadcastIds && k.filter == filter
        case _ => false
      }
      override def hashCode: Int =
        (System.identityHashCode(df), System.identityHashCode(tombs),
          broadcastIds, filter).hashCode
    }

    /** A resident cell's key: the snapshot relation, by INSTANCE, and
      * the cell.
      */
    private[operators] final class CellKey(val df: DataFrame, val cell: Int) {
      override def equals(o: Any): Boolean = o match {
        case k: CellKey => (k.df eq df) && k.cell == cell
        case _ => false
      }
      override def hashCode: Int = System.identityHashCode(df) * 31 + cell
    }

    /** (version, committed) for every `v########` directory under the
      * manifest root — committed = its `_graft_commit` marker exists.
      * Empty when the root is absent. Layout shared with
      * [[Dedup.NearDupIndex]] via [[ManifestLayout]].
      */
    private[graft] def manifestVersions(fs: org.apache.hadoop.fs.FileSystem,
        root: org.apache.hadoop.fs.Path): Seq[(Long, Boolean)] =
      ManifestLayout.versions(fs, root)

    private[graft] val DeletesDir = "_graft_deletes"
    private[graft] val ScrubStageDir = "_graft_scrub_stage"
    private[graft] val ScrubJournal = "_graft_scrub_commit"
    private[graft] val ScrubJournalHeader = "graft-scrub-v1"
    private[graft] val RebalanceJournalHeader = "graft-rebalance-v1"

    /** The persisted tombstone set under `<path>/_graft_deletes`, or
      * None when the index has none. Tiny by contract (id strings;
      * [[IvfIndex.scrub]] clears it), read once per handle.
      */
    private[graft] def readTombstones(spark: SparkSession, path: String)
        : Option[(String, Set[String])] = {
      import org.apache.hadoop.fs.Path
      val dir = new Path(path, DeletesDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) return None
      val hasData = fs.listStatus(dir).exists { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      if (!hasData) return None
      val rows = spark.read.parquet(dir.toString)
        .select(col("col"), col("id")).collect()
      if (rows.isEmpty) None
      else {
        val cols = rows.iterator.map(_.getString(0)).toSet
        require(cols.size == 1, s"mixed tombstone id columns in $dir: $cols")
        Some((cols.head, rows.iterator.map(_.getString(1)).toSet))
      }
    }

    private[graft] val CellTombsFile = "_celltombs.tsv"

    /** The persisted per-cell tombstone counts — (nids, epoch, counts) —
      * or None. Lives INSIDE the deletes dir (underscore name: invisible
      * to that dir's parquet read; removed with it by scrub). Fail-SOFT,
      * unlike the tombstone set itself: a missing/corrupt file degrades
      * to the recomputing scan, never to wrong exclusion.
      */
    private[graft] def readCellTombs(spark: SparkSession, path: String)
        : Option[(Long, Long, Map[Int, Long])] = {
      import org.apache.hadoop.fs.Path
      val f = new Path(new Path(path, DeletesDir), CellTombsFile)
      val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        if (!fs.exists(f)) None
        else {
          val in = fs.open(f)
          val text =
            try {
              val bos = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](8192)
              var n = in.read(buf)
              while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
              new String(bos.toByteArray, "UTF-8")
            } finally in.close()
          val lines = text.split("\n").filter(_.nonEmpty)
          val h = lines.head.split("\t")
          if (h.length != 3 || h(0) != "graft-celltombs-v1") None
          else Some((h(1).toLong, h(2).toLong,
            lines.tail.map { l =>
              val p = l.split("\t"); p(0).toInt -> p(1).toLong
            }.toMap))
        }
      } catch { case _: Exception => None }
    }

    /** Create-then-rename write of [[readCellTombs]]' file. */
    private[graft] def writeCellTombs(spark: SparkSession, path: String,
        nids: Long, epoch: Long, counts: Map[Int, Long]): Unit = {
      import org.apache.hadoop.fs.Path
      val dir = new Path(path, DeletesDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new Path(dir, CellTombsFile + ".tmp")
      val lines = s"graft-celltombs-v1\t$nids\t$epoch" +:
        counts.toSeq.sorted.map { case (c, n) => s"$c\t$n" }
      val out = fs.create(tmp, true)
      try out.write(lines.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      val dst = new Path(dir, CellTombsFile)
      if (fs.exists(dst)) { fs.delete(dst, false); () }
      require(fs.rename(tmp, dst),
        s"could not commit per-cell tombstone counts at $dst")
    }

    /** Complete a crashed [[IvfIndex.scrub]] when its commit journal is
      * present — called by [[load]] BEFORE anything reads data files,
      * and by scrub() itself. Idempotent; a missing journal is a no-op.
      * @return true when a pending scrub was completed
      */
    private[graft] def completeScrubIfPending(spark: SparkSession,
        path: String): Boolean = {
      import org.apache.hadoop.fs.Path
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(new Path(root, ScrubJournal))) false
      else { replayScrub(fs, root); true }
    }

    /** Execute (or re-execute after a crash) a scrub's committed plan:
      * move staged survivor files into their cluster dirs, drop the
      * rewritten originals, clear staging + tombstones, remove the
      * journal LAST. Every step is conditional on current existence, so
      * replay after a crash at any point converges to the same
      * post-scrub state.
      */
    private[graft] def replayScrub(fs: org.apache.hadoop.fs.FileSystem,
        root: org.apache.hadoop.fs.Path): Unit = {
      import org.apache.hadoop.fs.Path
      val journal = new Path(root, ScrubJournal)
      if (!fs.exists(journal)) return
      val text = {
        val in = fs.open(journal)
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
          new String(bos.toByteArray, "UTF-8")
        } finally in.close()
      }
      val lines = text.split("\n").toSeq
      val header = lines.headOption.getOrElse("")
      require(header == ScrubJournalHeader ||
        header == RebalanceJournalHeader,
        s"unrecognized scrub journal at $journal")
      lines.foreach { l =>
        if (l.startsWith("MOV\t")) {
          val p = l.split("\t")
          val src = new Path(root, p(1))
          if (fs.exists(src)) {
            val dst = new Path(root, p(2))
            fs.mkdirs(dst.getParent)
            if (fs.exists(dst)) { fs.delete(src, false); () } // already moved
            else require(fs.rename(src, dst),
              s"scrub replay: rename $src -> $dst failed")
          }
        } else if (l.startsWith("OLD\t")) {
          val p = new Path(root, l.split("\t")(1))
          if (fs.exists(p)) { fs.delete(p, false); () }
        } else if (l.startsWith("CMT\t")) {
          // commit a pre-written manifest version as a replay step —
          // how rebalance's grown centroid table becomes visible in the
          // same atomic unit as the file moves it describes. Guard on
          // the version PAYLOAD: if the uncommitted dir was vacuumed in
          // the window (a stale handle checkpointing after a crashed
          // rebalance), blindly creating the marker would commit an
          // EMPTY version and brick every later load — fail CLOSED with
          // the cause instead (the journal stays; the moved files need
          // this manifest's centroid table to be servable).
          val p = new Path(root, l.split("\t")(1))
          if (!fs.exists(p)) {
            require(fs.exists(new Path(p.getParent, "manifest")),
              s"scrub replay: manifest payload ${p.getParent} is gone " +
                "(vacuumed after a crashed rebalance?) — refusing to " +
                "commit an empty version; restore the manifest or " +
                "rebuild the index")
            fs.create(p).close()
          }
        }
      }
      fs.delete(new Path(root, ScrubStageDir), true)
      // a SCRUB's completion is what clears the tombstones it served; a
      // rebalance ran its scrub as a separate committed step and must
      // leave any later tombstones alone
      if (header == ScrubJournalHeader) {
        fs.delete(new Path(root, DeletesDir), true); ()
      }
      fs.delete(journal, false)
      ()
    }

    /** One row of the manifest dataset [[IvfIndex.saveManifest]] writes
      * and [[load]] reads: the union of every section's fields, tagged by
      * `section`. Field names, order and types ARE the on-disk schema.
      *
      *   - `cell`: `cluster`, its centroid in `vec`, `radius`, `rms`, `n`;
      *   - `occ`: (`cluster`, `col`, `value`) → `n`, plus the registered
      *     column's Spark type in `coltype` (re-arms the literal-type
      *     gate);
      *   - `cnt`: the predicate-count memo, (`fkey`, `cluster`) → `n`;
      *     cluster −1 marks a filter that matched nothing;
      *   - `meta`: `baselineDist`, `censusEpoch`, `dataSchemaJson`,
      *     `pqIdCol` (NaN / Long.MinValue / null encode "absent");
      *   - `pq`: one codebook entry (`subspace`, `pqcent`) in `vec`;
      *   - `file`: one census entry (`cluster`, `relpath`, `length`,
      *     `mtime`).
      */
    final case class ManifestRow(section: String, cluster: Int = -1,
        vec: Array[Float] = null, radius: Double = 0.0, rms: Double = 0.0,
        n: Long = 0L, col: String = null, value: String = null,
        coltype: String = null, fkey: String = null,
        baselineDist: Double = Double.NaN, censusEpoch: Long = Long.MinValue,
        dataSchemaJson: String = null, pqIdCol: String = null,
        subspace: Int = -1, pqcent: Int = -1, relpath: String = null,
        length: Long = 0L, mtime: Long = 0L)

    /** Reopen a built index from its on-disk manifest
      * ([[IvfIndex.saveManifest]]) — centroids, both radius families,
      * per-cell counts, occupancy and the drift baseline come back
      * exactly as saved, so a fresh process serves searches (and
      * continues [[IvfIndex.append]]ing) without retraining or scanning
      * the data files. The driver cost is the manifest itself
      * (numClusters × dims floats — the same state a build ends with).
      *
      * Reads the newest COMMITTED `v########` version (an uncommitted
      * dir — a checkpoint that crashed mid-write — is invisible) with one
      * TYPED collect of [[ManifestRow]]s: primitive float arrays, no Row
      * boxing (the Row form boxes every float, ~4× the payload — a
      * cap-sized 65536×2688 manifest OOMed a 4 GB driver heap through
      * it; SCALE.md has the measured envelope). A root with no committed
      * version, or a version without the `manifest` dataset, fails
      * closed: the remedy is a rebuild with [[buildIvf]]. A corrupt pq
      * table degrades to the sq8 serving path; a stale census epoch to a
      * real listing.
      */
    def load(spark: SparkSession, path: String): IvfIndex = {
      import spark.implicits._
      // a crashed scrub completes HERE, before any census/listing/read
      // decision binds to the half-moved file set
      completeScrubIfPending(spark, path)
      val mroot = s"$path/_graft_manifest"
      val rootPath = new org.apache.hadoop.fs.Path(mroot)
      val mfs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val committed = manifestVersions(mfs, rootPath).filter(_._2).map(_._1)
      require(committed.nonEmpty, s"no committed IVF manifest under " +
        s"$mroot — rebuild the index (VectorSearch.buildIvf)")
      val dir = ManifestLayout.versionDir(mroot, committed.max)
      require(mfs.exists(new org.apache.hadoop.fs.Path(s"$dir/manifest")),
        s"$dir holds no `manifest` dataset (not a layout this reader " +
          "knows) — rebuild the index (VectorSearch.buildIvf)")
      val bySection = spark.read.parquet(s"$dir/manifest")
        .as[ManifestRow].collect().groupBy(_.section)
      val cells = bySection.getOrElse("cell", Array.empty)
      require(cells.nonEmpty, s"empty IVF manifest at $dir")
      val k = cells.length
      val cents = new Array[Array[Float]](k)
      val radii = new Array[Double](k)
      val rms = new Array[Double](k)
      val ns = new Array[Long](k)
      cells.foreach { r =>
        val c = r.cluster
        require(c >= 0 && c < k, s"manifest cluster id $c out of [0, $k)")
        cents(c) = r.vec
        radii(c) = r.radius
        rms(c) = r.rms
        ns(c) = r.n
      }
      val occRows = bySection.getOrElse("occ", Array.empty).groupBy(_.col)
      val occ = occRows.map { case (oc, rows) =>
        oc -> rows.map(r => (r.cluster, r.value) -> r.n).toMap
      }
      val occTypes = occRows.map { case (oc, rows) => oc -> rows.head.coltype }
      val meta = bySection.getOrElse("meta", Array.empty).headOption
      val baseline = meta.map(_.baselineDist).getOrElse(Double.NaN)
      val idx = new IvfIndex(path, cents, baseline, radii, rms, ns, occ,
        occTypes)
      // the persisted data schema binds REGARDLESS of census freshness —
      // the storage mode is a property of the files on disk, which an
      // epoch mismatch says nothing about
      val dataSchema: Option[org.apache.spark.sql.types.StructType] =
        meta.flatMap(m => Option(m.dataSchemaJson)).flatMap { sj =>
          try Some(org.apache.spark.sql.types.DataType.fromJson(sj)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          catch { case _: Exception => None }
        }
      dataSchema.foreach(idx.dataSchemaNow = _)
      meta.flatMap(m => Option(m.pqIdCol)).foreach(idx.pqIdColNow = _)
      // PQ codebooks: frozen for the index's lifetime like the centroid
      // table, so no epoch gate
      try {
        val pqRows = bySection.getOrElse("pq", Array.empty)
        if (pqRows.nonEmpty) {
          val m = pqRows.iterator.map(_.subspace).max + 1
          val cbs = new Array[Array[Array[Float]]](m)
          pqRows.groupBy(_.subspace).foreach { case (j, g) =>
            val ks = g.iterator.map(_.pqcent).max + 1
            val cb = new Array[Array[Float]](ks)
            g.foreach(r => cb(r.pqcent) = r.vec)
            cbs(j) = cb
          }
          require(cbs.forall(cb => cb != null && cb.forall(_ != null)),
            "pq table has holes")
          idx.pqCodebooksNow = cbs
        }
      } catch {
        case e: Exception =>
          System.err.println(
            s"[graft] pq re-arm failed for $path (sq8 serving path): " +
              e.getMessage)
      }
      // census + count memo: admitted only when the recorded epoch still
      // matches the index's `_graft_epoch` — any append after the
      // checkpoint leaves a mismatch and the handle falls back to a real
      // listing (never a file list missing rows)
      val savedEpoch = meta.map(_.censusEpoch).getOrElse(Long.MinValue)
      if (savedEpoch != Long.MinValue && dataSchema.isDefined) {
        val current = org.apache.spark.sql.graft.CensusIndex
          .readEpoch(spark, path)
        if (current.contains(savedEpoch)) {
          val cntRows = bySection.getOrElse("cnt", Array.empty)
          if (cntRows.nonEmpty) {
            val loaded = cntRows.groupBy(_.fkey).map { case (fk, rows) =>
              fk -> rows.iterator
                .filter(_.cluster >= 0) // drop the empty-map sentinel
                .map(r => r.cluster -> r.n).toMap
            }
            idx.prefillCounts(loaded)
          }
          idx.censusNow0 = Some((savedEpoch, dataSchema.get,
            bySection.getOrElse("file", Array.empty).toSeq.map(r =>
              org.apache.spark.sql.graft.CensusIndex
                .CensusFile(r.cluster, r.relpath, r.length, r.mtime))))
        }
      }
      idx
    }
  }

  /** True when a literal of `v`'s JVM type renders (toString) identically
    * to how a matching value of Spark type `colType` (catalog string)
    * renders under cast-to-string, AND Spark's coerced equality over the
    * pair is plain same-domain equality — the condition under which the
    * occupancy table's string-keyed lookup agrees exactly with the filter
    * Spark would run. Everything else (float/double/decimal literals,
    * cross-domain pairs like an int literal on a string column) is
    * rejected; those predicates take the count-scan path.
    */
  private[graft] def literalTypeFaithful(colType: String, v: Any): Boolean =
    v match {
      case _: String => colType == "string"
      case _: Int | _: Long | _: Short | _: Byte =>
        colType == "int" || colType == "bigint" ||
          colType == "smallint" || colType == "tinyint"
      case _: Boolean => colType == "boolean"
      case _ => false
    }

  private def dotLocal(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i); i += 1 }
    acc
  }

  /** Cluster count for an IVF index over `n` vectors: ~√n, clamped to
    * [4, 65536]. The standard IVF sizing rule — with k ≈ √n clusters, a
    * probe touching `nprobe` clusters scans ≈ nprobe·√n vectors, balancing
    * the centroid-scan (k dot products on the driver) against the
    * cluster-scan; fewer clusters over-scan per probe, more clusters make
    * the centroid table itself a scan and starve clusters of members
    * (recall collapses when a cluster holds < k vectors). At 10M rows this
    * gives ~3162 clusters; at the 100 TB scale the centroid table (√n ×
    * dims floats) still fits driver memory comfortably (10¹⁰ rows → 10⁵ ×
    * 2688 × 4 B ≈ 1 GB — the 65536 cap keeps it below that).
    */
  def defaultNumClusters(n: Long): Int =
    math.max(4L, math.min(65536L, math.round(math.sqrt(n.toDouble)))).toInt

  /** Effective per-hot-cell train-sample row cap for
    * [[IvfIndex.rebalance]]: the tighter of the row cap and the byte
    * budget at this layout's float width (4·dims bytes/row collected to
    * the driver), floored at 1024 rows so a tiny budget can't starve
    * the local fit below statistical usefulness.
    */
  private[graft] def rebalanceTrainCap(dims: Int, maxRows: Int,
      maxBytes: Long): Int = {
    if (dims <= 0) maxRows
    else {
      val byRows = math.max(1024L, maxBytes / (4L * dims))
      math.max(1024L, math.min(maxRows.toLong, byRows)).toInt
    }
  }

  /** Cell count at/above which [[buildIvf]] trains centroids with the
    * two-level fit instead of one flat MLlib k-means. Flat Lloyd costs
    * k·|train|·d per iteration; the hierarchy fits m ≈ √k coarse groups
    * on a driver-side subsample, partitions the training sample by
    * nearest coarse group with the codegen assignment kernel, and
    * refines each group's mass-proportional share of the k centroids in
    * an independent task — total multiplier ~(m + k/m) ≈ 2√k, a 16×
    * flop cut at k = 1000 and 128× at the 65536-cell cap. Quality holds
    * because the final index assigns EVERY row against all k centroids
    * flat ([[assignKernels]]): the hierarchy only decides where
    * centroids sit, and each group's refinement sees exactly the sample
    * mass its centroids must cover. The r11 fit A/B (SCALE.md) measured
    * the wall/quality envelope; the sf1 recall gates stay ≥ 0.9 under
    * it. A build forces either path through its `largePathMinCells`
    * parameter.
    */
  private[graft] val hierarchicalFitMinK: Int = 512

  /** Small-sample flat-fit fast path (r17): when the training sample fits
    * one bounded collect, `buildIvf`'s flat Lloyd runs on the DRIVER via
    * [[localLloyd]] instead of MLlib KMeans. MLlib's distributed fit
    * costs one scheduler round-trip per Lloyd iteration plus the init
    * sample job (~12 jobs); at fixture/bench sample sizes (≤ a few
    * thousand rows) that is pure overhead — measured 0.65 s of a 2 s
    * index build at 2000 × 384, vs ~0.1 s for collect + driver Lloyd.
    * The value is a BYTE budget expressed as rows of 2688-dim vectors
    * (16384 × 2688 × 4 B ≈ 176 MB), scaled to the actual dimension and
    * intersected with a flop ceiling and a 2M-row object cap by
    * [[smallFitProbeRows]]. If the whole sample fits, the fit runs
    * locally; otherwise it falls through to the distributed MLlib path
    * unchanged. A 100 TB build's training sample (256·k rows, k ≥ 4096)
    * blows every gate and keeps the distributed fit.
    */
  private[graft] val smallFitMaxRows: Int = 16384

  /** Flop ceiling for the small-fit driver Lloyd
    * ([[smallFitMaxRows]]; k·n·d·iters,
    * iters priced at 10 — the worst case; early convergence only shortens
    * it). r18: derived from a MEASURED cost model instead of the bench's
    * own shapes (r17 verdict task 5). Timing [[localLloyd]] at four
    * (n, d, k) points on the bench driver measured sustained
    * 4.2–9.6 GFLOP/s (slowest in the wide-dim regime that large fits live
    * in: 4.2e9/s at 10k × 2688 × 16; 4.6e9/s at 16384 × 2688 × 45;
    * geomean 5.5e9/s). Budget: the driver pass must stay well under the
    * ~10 s distributed-MLlib floor it replaces (measured r17 [ivf]
    * fit_flat) — 1e10 flops caps the worst case at ≈ 2.4 s at the slowest
    * measured rate (≈ 1 s typical), a ≥ 4× margin. The bench's real fits
    * stay admitted (products 16 × 10k × 2688 = 4.3e9; embeddings
    * 16 × 50k × 64 = 0.5e9) and genuinely large fits (k ≥ 4096 ⇒ 256·k-row
    * samples) still blow the gate at every dimension — both pinned in
    * VectorSearchSpec's smallFitProbeRows test.
    */
  private[graft] val smallFitMaxFlops: Double = 1e10

  /** The driver small-fit admission rule as a pure function: the largest
    * training-sample row count the flat fit may collect to the driver at
    * dimension `d` and cell count `k` — the byte budget `maxRows`
    * ([[smallFitMaxRows]] in a build, priced in 2688-dim rows; 0 admits
    * nothing), the flop ceiling ([[smallFitMaxFlops]] over k·n·d·10), and
    * the absolute 2M-row object cap, minimized. A sample larger than this
    * falls through to the distributed MLlib fit (the probe collects `+1`
    * row to detect it).
    * Pinned by VectorSearchSpec: a 256·k sample at k = 4096 exceeds the
    * rule at every dimension, so genuinely large fits always stay
    * distributed.
    */
  private[graft] def smallFitProbeRows(d: Int, k: Int, maxRows: Int): Long =
    if (d <= 0 || maxRows <= 0) 0L
    else math.min(math.min(
      maxRows.toLong * 2688L / d,
      (smallFitMaxFlops / (k.toDouble * d * 10)).toLong),
      2L << 20)

  /** Whether [[buildIvf]] may source the per-cell stats from the write
    * job's [[org.apache.spark.sql.Observation]] (r18, closing the r17
    * verdict's retry/speculation concern). Attempt-accounting contract:
    * observe metrics merge only SUCCESSFUL task attempts (failed and
    * retried attempts are dropped — `countFailedValues` is false for
    * collected metrics), and a second write attempt of the same partition
    * cannot both commit (the commit protocol denies it → TaskCommitDenied
    * → not a success), so plain task retries cannot skew the stats
    * (IvfStatsSpec injects one and asserts parity with the scan path).
    * The one genuine double-count hole is SPECULATIVE execution — two
    * attempts of one partition can both complete successfully (the
    * loser's result is ignored but its accumulator update still merges) —
    * so a session with `spark.speculation=true` falls back to the r15
    * `__dist` rescan unconditionally.
    */
  private[graft] def statsObserveArmed(
      spark: org.apache.spark.sql.SparkSession, cells: Int): Boolean = {
    val maxCells = GraftConf.IvfStatsObserveMaxCells.get(spark)
    maxCells > 0 && cells <= maxCells &&
      !spark.sparkContext.getConf.getBoolean("spark.speculation",
        defaultValue = false)
  }

  /** Mass multiple (× mean) above which [[balancedCoarse]] splits a
    * coarse cell. Refine COST per group is rows_g·k_g ∝ rows_g², so a
    * cell at f× mean mass runs at f²× mean cost on one thread — at the
    * r11 2M × 2688 point the worst group sat at 1.65× mass = 2.7× cost
    * (59 s of the 142 s refine) UNDER this 2.0 threshold (r11 sweep,
    * SCALE.md).
    */
  private[graft] val balancedCoarseSplitFactor: Double = 2.0

  /** Largest-remainder allocation of `k` centroids over coarse groups,
    * proportional to each group's training mass, capped by group size
    * (a group cannot host more distinct centroids than it has points).
    * Sums to min(k, total mass); a group whose quota rounds to zero
    * gets zero — its rows are covered by neighboring groups' centroids
    * at (global) assignment time.
    */
  private[graft] def allocateCentroids(cnt: Map[Int, Long], k: Int): Map[Int, Int] = {
    val gs = cnt.toSeq.filter(_._2 > 0L).sortBy(_._1)
    if (gs.isEmpty) return Map.empty
    val total = gs.iterator.map(_._2).sum
    val budget = math.min(k.toLong, total).toInt
    val quota = gs.map { case (g, ng) => (g, ng, budget.toDouble * ng / total) }
    val alloc = scala.collection.mutable.LinkedHashMap[Int, Int]()
    quota.foreach { case (g, ng, q) =>
      alloc(g) = math.min(ng, q.toLong).toInt
    }
    var leftover = budget - alloc.valuesIterator.sum
    // grant the remainder one at a time to the group with the largest
    // unmet quota that still has headroom
    while (leftover > 0) {
      val cand = quota.filter { case (g, ng, _) => alloc(g) < ng }
      if (cand.isEmpty) leftover = 0
      else {
        val (g, _, _) = cand.maxBy { case (g, _, q) => q - alloc(g) }
        alloc(g) += 1
        leftover -= 1
      }
    }
    alloc.filter(_._2 > 0).toMap
  }

  /** In-memory Lloyd's k-means over float vectors — the refinement
    * kernel of the two-level fit (one call per coarse group inside a
    * task; also the driver-side coarse fit with `parallel = true`).
    *
    * Deterministic under shuffled input: initial centroids are the `k`
    * points with the smallest seed-mixed content hash (row ORDER never
    * matters, so mapGroups' nondeterministic iteration order cannot
    * change the result beyond float-summation jitter). Clusters that go
    * empty reseed to the farthest currently-assigned point. Stops early
    * when no assignment changes.
    */
  private[graft] def localLloyd(points: Array[Array[Float]], k: Int,
      seed: Long, maxIter: Int, parallel: Boolean = false,
      farthestInit: Boolean = false): Array[Array[Float]] = {
    if (k <= 0 || points.isEmpty) return Array.empty
    val n = points.length
    if (k >= n) return points.map(_.clone())
    val d = points(0).length
    def contentHash(p: Array[Float]): Long = {
      var h = seed ^ 0x9E3779B97F4A7C15L
      var j = 0
      while (j < p.length) {
        h = (h ^ java.lang.Float.floatToIntBits(p(j))) * 0x100000001B3L
        j += 1
      }
      h
    }
    // Two deterministic seedings: content-hash order (the historical
    // default — cheap, order-independent) and farthest-first traversal
    // (r17, for the small-flat-fit path): hash seeds can all land in one
    // true cluster on tiny well-separated fixtures, leaving Lloyd in a
    // merged-cluster local optimum that random init escapes by luck;
    // farthest-first guarantees separated seeds at O(k·n·d) — trivial
    // against the Lloyd iterations that follow.
    val init: Array[Int] =
      if (!farthestInit)
        Array.tabulate(n)(i => (contentHash(points(i)), i))
          .sortBy(_._1).take(k).map(_._2)
      else {
        val chosen = new Array[Int](k)
        var first = 0
        var firstH = Long.MaxValue
        var i0 = 0
        while (i0 < n) {
          val h = contentHash(points(i0))
          if (h < firstH) { firstH = h; first = i0 }
          i0 += 1
        }
        chosen(0) = first
        val minD = Array.fill(n)(Double.MaxValue)
        var j = 1
        while (j < k) {
          val last = points(chosen(j - 1))
          var far = -1
          var farD = -1.0
          var i = 0
          while (i < n) {
            val p = points(i)
            var s = 0.0
            var t = 0
            while (t < d) {
              val dv = p(t).toDouble - last(t); s += dv * dv; t += 1
            }
            if (s < minD(i)) minD(i) = s
            if (minD(i) > farD) { farD = minD(i); far = i }
            i += 1
          }
          chosen(j) = far
          j += 1
        }
        chosen
      }
    val cents = Array.tabulate(k)(j => points(init(j)).map(_.toDouble))
    val cn = new Array[Double](k) // ||c||²
    val pn = Array.tabulate(n) { i => // ||p||², for the reseed compare
      val p = points(i); var s = 0.0; var j = 0
      while (j < d) { s += p(j).toDouble * p(j); j += 1 }; s
    }
    val assign = new Array[Int](n)
    java.util.Arrays.fill(assign, -1)
    val bestRel = new Array[Double](n) // ||c||² − 2·p·c of the chosen cell
    var iter = 0
    var changed = n
    while (iter < maxIter && changed > 0) {
      var j = 0
      while (j < k) {
        val c = cents(j); var s = 0.0; var t = 0
        while (t < d) { s += c(t) * c(t); t += 1 }
        cn(j) = s; j += 1
      }
      val changes = new java.util.concurrent.atomic.LongAdder
      def assignRange(lo: Int, hi: Int): Unit = {
        var i = lo
        while (i < hi) {
          val p = points(i)
          var best = -1; var bestScore = Double.MaxValue
          var jj = 0
          while (jj < k) {
            val c = cents(jj)
            var dot = 0.0; var t = 0
            while (t < d) { dot += p(t) * c(t); t += 1 }
            val sc = cn(jj) - 2.0 * dot
            if (sc < bestScore) { bestScore = sc; best = jj }
            jj += 1
          }
          if (best != assign(i)) { changes.increment(); assign(i) = best }
          bestRel(i) = bestScore
          i += 1
        }
      }
      if (parallel && n >= 4096) {
        val chunk = math.max(256, n / (Runtime.getRuntime.availableProcessors * 4))
        java.util.stream.IntStream
          .rangeClosed(0, (n - 1) / chunk).parallel()
          .forEach(b => assignRange(b * chunk, math.min(n, (b + 1) * chunk)))
      } else assignRange(0, n)
      changed = changes.sum().toInt
      val sums = Array.ofDim[Double](k, d)
      val cnts = new Array[Int](k)
      var i = 0
      while (i < n) {
        val p = points(i); val a = assign(i); cnts(a) += 1
        val s = sums(a); var t = 0
        while (t < d) { s(t) += p(t); t += 1 }
        i += 1
      }
      val reseeded = scala.collection.mutable.HashSet.empty[Int]
      var e = 0
      while (e < k) {
        if (cnts(e) == 0) {
          // farthest assigned point by TRUE squared distance (the
          // per-point ||p||² restores comparability across points)
          var far = -1; var fd = Double.MinValue
          var i2 = 0
          while (i2 < n) {
            val dtrue = pn(i2) + bestRel(i2)
            if (dtrue > fd && !reseeded.contains(i2)) { fd = dtrue; far = i2 }
            i2 += 1
          }
          if (far >= 0) {
            reseeded += far
            val p = points(far); val c = cents(e); var t = 0
            while (t < d) { c(t) = p(t).toDouble; t += 1 }
            changed = n // force another assignment pass
          }
        } else {
          val s = sums(e); val c = cents(e); var t = 0
          while (t < d) { c(t) = s(t) / cnts(e); t += 1 }
        }
        e += 1
      }
      iter += 1
    }
    cents.map(_.map(_.toFloat))
  }

  /** The two-level centroid fit (see [[hierarchicalFitMinK]]): coarse
    * m ≈ √k centroids from a bounded driver-side subsample, exact group
    * partition of the full training sample via the codegen
    * nearest-centroid kernel, largest-remainder budget split, and one
    * independent [[localLloyd]] refinement task per group. Returns the
    * concatenated centroids ordered by group id (deterministic).
    */
  private[graft] def hierarchicalFit(spark: SparkSession, trainF: DataFrame,
      k: Int, seed: Long, dbg: Boolean = false): Array[Array[Float]] = {
    import spark.implicits._
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      if (dbg)
        println(f"[ivf] $name%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // materialize the cache once; every later pass reads memory
    val trainN = timed("fit_cache")(trainF.count())
    require(trainN > 0, "buildIvf: empty training sample")
    // 2√k coarse groups, not the flop-optimal √k: refine cost per group
    // is rows_g·k_g ∝ rows_g² — QUADRATIC in group mass — so more, smaller
    // groups win as soon as the coarse partition is at all skewed (the
    // r11 sf1 fit: m = 32 left one task refining a double-mass group
    // serially while 31 threads idled). 2√k halves the worst group at
    // ~m·|train|·d extra coarse-assignment flops.
    val m = math.max(2,
      math.min(2 * math.round(math.sqrt(k.toDouble)).toInt, k))
    // subArr outlives fit_coarse only as far as the full-mass split pass
    // below, then is released — at the 131072-row cap × 2688 dims it is
    // ~1.4 GB of driver heap that must not sit reachable through the
    // multi-minute refine stage
    var subArr: Array[Array[Float]] = null
    val coarse0 = timed("fit_coarse") {
      // 256 rows per coarse group, capped: the coarse fit runs on the
      // driver (parallel localLloyd) and only shapes the partition —
      // refinement supplies the quality
      val want = math.min(math.min(256L * m, 131072L), trainN)
      val frac = math.min(1.0, want.toDouble * 1.2 / trainN)
      subArr = (if (frac >= 1.0) trainF else
          trainF.sample(withReplacement = false, frac, seed))
        .limit(want.toInt)
        .as[Array[Float]].collect()
      balancedCoarse(subArr, m, seed)
    }
    val cnt0 = timed("fit_groupcount") {
      trainF.select(
          graft.functions.nearest_centroid(col("__v"), coarse0).as("__g"))
        .groupBy(col("__g")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    // Full-mass split pass (r12): balancedCoarse splits on the ~256/group
    // SUBSAMPLE, whose noise lets a true-heavy group escape ANY threshold
    // (r11 sweep: the worst refine group held ~2.9× the mean FULL mass at
    // every setting — 59 s of the 2M point's 142 s refine, cost quadratic
    // in mass). fit_groupcount just measured the TRUE masses, so split
    // the genuinely heavy groups here, on the driver, before refine:
    // sub-centroids come from a local Lloyd over the group's subsample
    // members (spatial split, as in balancedCoarse), and the new groups'
    // masses are the group's true mass apportioned by its subsample
    // sub-shares — no second distributed count pass (the +39 s failure
    // mode of just lowering the threshold), only the refine pass itself
    // re-derives exact boundaries with its own assignment kernel.
    val fullTarget = balancedCoarseSplitFactor * (trainN.toDouble / coarse0.length)
    val heavy = cnt0.collect { case (g, n2) if n2 > fullTarget => g }.toSet
    val (coarse, cnt) =
      if (heavy.isEmpty) (coarse0, cnt0)
      else timed("fit_fullsplit") {
        val assign = assignLocal(subArr, coarse0)
        val newCents = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val newMass = scala.collection.mutable.ArrayBuffer.empty[Long]
        coarse0.indices.filterNot(heavy).foreach { g =>
          newCents += coarse0(g); newMass += cnt0.getOrElse(g, 0L)
        }
        heavy.toSeq.sorted.foreach { g =>
          val members = subArr.indices.collect {
            case i if assign(i) == g => subArr(i)
          }.toArray
          val s = math.max(2, math.ceil(cnt0(g) / fullTarget).toInt)
          if (members.length < 2 * s) {
            // too few subsample rows to shape a split — keep the group
            newCents += coarse0(g); newMass += cnt0(g)
          } else {
            val cs = localLloyd(members, s,
              seed ^ (g * 0x9E3779B97F4A7C15L) ^ 0x5DEECE66DL,
              maxIter = 5, parallel = true)
            val subShare = new Array[Long](cs.length)
            assignLocal(members, cs).foreach(subShare(_) += 1L)
            // only sub-centroids that WIN subsample rows carry mass: a
            // zero-share sub-centroid would still be granted part of the
            // k budget by a max(1, ...) floor, then win zero full-train
            // rows under the global assignment and silently drop its
            // centroids from the refine output (an index with < k
            // cells). A sub-centroid with members is its own nearest
            // centroid for those members up to group-boundary ties, so
            // its estimated mass is backed by real rows.
            cs.indices.foreach { j =>
              if (subShare(j) > 0L) {
                newCents += cs(j)
                newMass += math.max(1L,
                  math.round(cnt0(g).toDouble * subShare(j) / members.length))
              }
            }
          }
        }
        if (dbg)
          println(s"[ivf] fit_fullsplit heavy=${heavy.size} " +
            s"groups ${coarse0.length}->${newCents.length} worstMass " +
            s"${cnt0.valuesIterator.max}->${newMass.max}")
        (newCents.toArray, newMass.indices.map(i => i -> newMass(i)).toMap)
      }
    subArr = null // release the subsample before the refine stage
    val gCol = graft.functions.nearest_centroid(col("__v"), coarse)
    val alloc = allocateCentroids(cnt, k)
    val bAlloc = spark.sparkContext.broadcast(alloc)
    val refined = timed("fit_refine") {
      trainF.select(gCol.as("__g"), col("__v"))
        .as[(Int, Array[Float])]
        .groupByKey(_._1)
        .mapGroups { (g, it) =>
          val kg = bAlloc.value.getOrElse(g, 0)
          if (kg == 0) (g, 0, 0.0, Array.empty[Array[Float]])
          else {
            val pts = it.map(_._2).toArray
            val t0 = System.nanoTime()
            val cs = localLloyd(pts, kg, seed ^ (g * 0x9E3779B97F4A7C15L), 10)
            (g, pts.length, (System.nanoTime() - t0) / 1e9, cs)
          }
        }
        .collect()
    }
    if (dbg) {
      val worst = refined.sortBy(-_._3).take(3)
      println(s"[ivf] fit_refine_groups m=${coarse.length} worst=" +
        worst.map(w => f"g=${w._1}:n=${w._2}:${w._3}%.1fs").mkString(","))
    }
    // Centroid-count audit (r13, always-on): the full-mass split hands
    // allocateCentroids ESTIMATED masses (subsample-apportioned), so its
    // "centroids ≤ points" cap is no longer exact — a sub-group whose
    // true winner count under the global assignment falls below its
    // allocation emits fewer centroids (localLloyd returns min(kg, n)),
    // and an unwatched build would silently ship an index with < k
    // cells. Recall stays correct (every row still assigns to SOME
    // cell); the budget is just partially unused — surfaced here so
    // scale artifacts catch it rather than a cell-count diff downstream.
    val expected = alloc.valuesIterator.sum
    val emitted = refined.iterator.map(_._4.length).sum
    if (emitted < expected)
      println(s"[ivf] WARN fit_refine emitted $emitted of $expected " +
        s"allocated centroids (full-mass split active: ${heavy.nonEmpty}; " +
        "estimated sub-group masses exceeded true winner counts)")
    refined.sortBy(_._1).flatMap(_._4)
  }

  /** Driver-side parallel nearest-centroid assignment (squared-L2 via the
    * `|c|² − 2·p·c` form) of `pts` to `cents` — the inner kernel of
    * [[balancedCoarse]] and the full-mass split pass in
    * [[hierarchicalFit]].
    */
  private[graft] def assignLocal(pts: Array[Array[Float]],
      cents: Array[Array[Float]]): Array[Int] = {
    val cn = cents.map { c =>
      var s = 0.0; var t = 0
      while (t < c.length) { s += c(t).toDouble * c(t); t += 1 }; s
    }
    val assign = new Array[Int](pts.length)
    java.util.stream.IntStream.range(0, pts.length).parallel().forEach { i =>
      val p = pts(i)
      var best = 0; var bs = Double.MaxValue; var j = 0
      while (j < cents.length) {
        val c = cents(j); var dot = 0.0; var t = 0
        while (t < p.length) { dot += p(t) * c(t); t += 1 }
        val sc = cn(j) - 2.0 * dot
        if (sc < bs) { bs = sc; best = j }
        j += 1
      }
      assign(i) = best
    }
    assign
  }

  /** Coarse codebook for the two-level fit, BALANCED by construction:
    * fit `m` centroids on the driver subsample, then repeatedly split
    * any coarse cell holding > 2× the mean mass into its own
    * sub-centroids (a local Lloyd over just that cell's subsample
    * members — a SPATIAL split, so the resulting groups partition the
    * region instead of re-tiling it the way a random row split would;
    * the r11 fit A/B measured the random variant costing 12%
    * quantization quality). Balance matters because refine cost per group is
    * rows_g·k_g ∝ rows_g²: one double-mass cell serializes 4× the work
    * on one thread. Returns ≥ m centroids; callers treat the returned
    * length as the group count.
    */
  private[graft] def balancedCoarse(sub: Array[Array[Float]], m: Int,
      seed: Long): Array[Array[Float]] = {
    var cents = localLloyd(sub, m, seed, maxIter = 8, parallel = true)
    var pass = 0
    while (pass < 3 && cents.length > 1) {
      // local assignment of the subsample to the current codebook
      val assign = assignLocal(sub, cents)
      val sizes = new Array[Int](cents.length)
      assign.foreach(sizes(_) += 1)
      val target = math.max(1.0,
        balancedCoarseSplitFactor * sub.length / cents.length)
      val heavy = sizes.zipWithIndex.filter(_._1 > target).map(_._2).toSet
      if (heavy.isEmpty) pass = 3
      else {
        val kept = cents.indices.filterNot(heavy).map(cents)
        val splits = heavy.toSeq.sorted.flatMap { c =>
          val members = assign.zipWithIndex.collect {
            case (a, i) if a == c => sub(i)
          }
          val s = math.max(2, math.ceil(sizes(c) / target).toInt)
          localLloyd(members, s, seed ^ (c * 0x9E3779B97F4A7C15L),
            maxIter = 5, parallel = true)
        }
        cents = (kept ++ splits).toArray
        pass += 1
      }
    }
    cents
  }

  /** Build an IVF index: KMeans over a bounded sample of the vectors, assign
    * every row to its centroid, write partitioned by cluster id.
    *
    * `numClusters <= 0` derives the count from the corpus size via
    * [[defaultNumClusters]] (~√n, the standard IVF sizing rule) — pass an
    * explicit count only when the probe budget is known up front.
    *
    * At 100 TB: KMeans trains on at most `maxTrainVectors` rows (centroid
    * quality needs far less than the corpus — each KMeans iteration is a
    * full scan of its training set, so an unbounded fit would dominate the
    * build); assignment is one narrow pass (model broadcast). The write
    * sorts each task by cluster id so `partitionBy` streams one sequential
    * file per cluster per task — the vectors never shuffle below
    * [[GraftConf.IvfWriteExchangeMinFiles]] estimated files; above it
    * (high cell counts) one hash exchange on the cluster id caps the output at
    * ~cells files, because past ~65k files per-file create overhead —
    * not bandwidth — governs the write wall (r12/r13 measurements at
    * the conf's scaladoc). (Spark's
    * planned-write rule would inject an equivalent per-task sort for any
    * dynamic-partition write; sorting explicitly makes the layout a
    * contract of the operator rather than an optimizer default.)
    */
  /** The SQ8 pre-write frame: `__dist` (assigned squared distance, the
    * r15 stats column) plus the int8 quantization columns
    * ([[graft.operators.Quantize.quantize]] — `__qmin`/`__qmax`/
    * `__codes`), float vector dropped. Factored out so Sq8IndexSpec can
    * pin on the OPTIMIZED plan that the assignment kernel is not
    * duplicated by project-collapse (`__cluster` is referenced by both
    * the output and `__dist`; Catalyst refuses to inline a non-cheap
    * expression used more than once).
    */
  private[graft] def sq8Narrow(assigned: DataFrame,
      centroids: Array[Array[Float]]): DataFrame =
    graft.operators.Quantize.quantize(
        assigned.withColumn("__dist",
          centroid_dist_at(col("__vec"), col("__cluster"), centroids)),
        "__vec")
      .drop("__vec")

  /** [[sq8Narrow]] plus the m-byte PQ code column (`__pq`) — the
    * storage = "pq" write frame. Same project-collapse argument: both
    * derived columns sit ABOVE the assignment projection and reference
    * `__vec`/`__cluster` without re-inlining the O(k·d) kernel.
    */
  private[graft] def pqNarrow(assigned: DataFrame,
      centroids: Array[Array[Float]],
      codebooks: Array[Array[Array[Float]]]): DataFrame =
    graft.operators.Quantize.quantize(
        assigned
          .withColumn("__dist",
            centroid_dist_at(col("__vec"), col("__cluster"), centroids))
          .withColumn("__pq",
            graft.functions.pq_encode(col("__vec"), codebooks)),
        "__vec")
      .drop("__vec")

  def buildIvf(df: DataFrame, vecCol: String, numClusters: Int, path: String,
      sampleFraction: Double = Double.NaN, seed: Long = 42L,
      maxTrainVectors: Long = 1000000L,
      occupancyCols: Seq[String] = Seq.empty,
      largePathMinCells: Int = -1,
      storage: String = "float",
      pqIdCol: String = null,
      pqTrainVectors: Int = 16384): IvfIndex = {
    // storage = "sq8" (r16): the data files store per-row asymmetric
    // int8 codes (graft.operators.Quantize — array<tinyint> + two range
    // doubles) instead of the float vector: ~4× fewer index bytes at
    // 2688 dims, which is what lets a 10M × 2688 corpus' ONLY copy fit
    // a ~80 GB disk (float source+index ≈ 216 GB). Fit, assignment and
    // the __dist stats all run on the FLOAT vector before it is
    // dropped; searches score the code algebra (see scoreExpr) —
    // exactly the dot against the stored (dequantized) representation.
    //
    // storage = "pq" (r16): everything sq8 stores PLUS an m-byte
    // product-quantization code column (`__pq`, Quantize.pqFit /
    // functions.pq_encode — ~96 B/row at 2688 dims, 28× below the sq8
    // codes). Serving goes two-phase: phase 1 ranks by ADC over ONLY
    // the __pq column (the 28×-fewer-bytes candidate scan), phase 2
    // re-ranks the k·pqOverfetch shortlist sq8-exact — returned scores
    // are identical in kind to sq8 mode's; PQ error moves recall only.
    // Requires `pqIdCol`: a unique row identifier the two phases join
    // on (persisted in the manifest; searchMulti uses the caller's).
    require(storage == "float" || storage == "sq8" || storage == "pq",
      s"buildIvf: unknown storage mode '$storage' (float|sq8|pq)")
    val pq = storage == "pq"
    require(!pq || (pqIdCol != null && df.columns.contains(pqIdCol)),
      "buildIvf: storage=pq requires pqIdCol naming a unique id column")
    val sq8 = storage == "sq8" || pq
    // largePathMinCells ≥ 0 overrides BOTH large-index thresholds
    // (hierarchicalFitMinK and twoLevelAssignMinCells) for THIS build —
    // the q117 per-handle lesson applied to build time: fixture queries
    // (q118) and specs push a small index through the ≥512-cell
    // production machinery (hierarchical fit + grouped assignment) —
    // both thresholds are constants, so this is the one way to force it.
    val fitMinK =
      if (largePathMinCells >= 0) largePathMinCells else hierarchicalFitMinK
    val assignMinCells =
      if (largePathMinCells >= 0) largePathMinCells else twoLevelAssignMinCells
    val needCount = numClusters <= 0 || sampleFraction.isNaN
    // A row without a vector belongs to no cell (the fit hashes every
    // sampled vector, the assignment scores it): count them in the same
    // job as the row count and fail before any fit or write.
    val counted = df.agg(count(lit(1)), count(when(col(vecCol).isNull, 1))).head()
    val nullVecs = counted.getLong(1)
    require(nullVecs == 0, s"buildIvf: $nullVecs row(s) have a null vector " +
      s"in column '$vecCol'; drop or fill them before building the index")
    val n = if (needCount) counted.getLong(0) else -1L
    val k = if (numClusters > 0) numClusters else defaultNumClusters(n)
    // Training-set size scales with the CLUSTER COUNT, not the corpus:
    // ~256 sample points per centroid (the standard IVF training budget;
    // quality saturates long before that) bounded by maxTrainVectors and
    // floored at 10k. Lloyd's cost is k·|train|·dims·iters — training on
    // "everything under the cap" made the sf1 build (k = 1000, n = 1M)
    // fit on all 1M rows for 35 minutes where 256k rows give the same
    // centroid quality in a quarter of it; at 100 TB (k = 65536 capped)
    // the rule asks for 16.7M rows and maxTrainVectors stays the
    // operator's explicit ceiling.
    val trainTarget = math.min(maxTrainVectors, math.max(10000L, 256L * k))
    val fraction =
      if (!sampleFraction.isNaN) sampleFraction
      else if (n <= trainTarget) 1.0 else trainTarget.toDouble / n
    // Only the TRAINING SAMPLE goes through the MLlib vector conversion —
    // the float→double cast + array_to_vector copy over the full table
    // costs more than the clustering itself at index-build scale.
    val sampled =
      if (fraction >= 1.0) df else df.sample(withReplacement = false, fraction, seed)
    // SPARK_GRAFT_IVF_DEBUG=1: per-step [ivf] timings — the attribution
    // tool for ivf_products_build (same contract as PROFILE_DEBUG)
    val ivfDbg = sys.env.get("SPARK_GRAFT_IVF_DEBUG").contains("1")
    def ivfStep[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      if (ivfDbg)
        println(f"[ivf] $name%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // Two fit paths by cell count. Above hierarchicalFitMinK the flat
    // Lloyd multiplier k is the build's dominant n-independent cost
    // (k·|train|·d·iters — at sf1's k = 1000 over the 256k sample it was
    // ~80% of the 837 s build), so the fit goes two-level: m ≈ √k coarse
    // groups, then each group refines its mass-proportional share of the
    // k centroids independently, one task per group — multiplier drops
    // to ~(m + k/m) ≈ 2√k. The hierarchical path also keeps the sample
    // as FLOAT ARRAYS end to end (no MLlib vector conversion); the cache
    // lives only for the fit — since r15 the stats pass aggregates the
    // written `__dist` column instead of re-scanning any sample.
    val centroids: Array[Array[Float]] =
      if (k >= fitMinK) {
        val tf = sampled.select(col(vecCol).cast("array<float>").as("__v"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try hierarchicalFit(df.sparkSession, tf, k, seed, ivfDbg)
        finally tf.unpersist(blocking = false)
      } else ivfStep("fit_flat") {
        // Driver fast path first (see [[smallFitMaxRows]]):
        // one bounded collect replaces MLlib's ~12 scheduler round-trips
        // when the sample is fixture/bench sized. The probe limit bounds
        // the collect's bytes; a truncated probe (sample larger than the
        // gate) falls through to the distributed fit below.
        val smallPts: Array[Array[Float]] = {
          import df.sparkSession.implicits._
          // Price the row budget in the ACTUAL dimension (one single-row
          // probe fetches d): the rows gate exists to bound collect
          // BYTES, so the budget is interpreted as rows OF
          // 2688-dim vectors (~168 MB) and narrow vectors admit
          // proportionally more — the bench's 64-dim ivf_build sample
          // (50k rows, 13 MB) was pushed onto the 10-job MLlib path by
          // the flat row count alone. The flop gate still caps the
          // driver Lloyd's work, and an absolute 2M-row cap bounds the
          // per-array object count.
          val dHead = sampled.select(size(col(vecCol)).cast("int"))
            .limit(1).as[Int].collect().headOption.getOrElse(0)
          val probeRows: Long = smallFitProbeRows(dHead, k, smallFitMaxRows)
          if (probeRows <= 0) null
          else {
            // typed collect: primitive float arrays straight from the
            // columnar batch — the Row form boxes every element (~4× the
            // payload; the manifest loader documents the same trap)
            val got = sampled.select(col(vecCol).cast("array<float>"))
              .limit(probeRows.toInt + 1).as[Array[Float]].collect()
            if (got.length > probeRows || got.isEmpty) null else got
          }
        }
        if (smallPts != null) {
          // deterministic farthest-first init + 10 Lloyd rounds on the
          // driver (32-thread assignment above 4096 points) — the same
          // kernel the hierarchical fit's refinement tasks run
          localLloyd(smallPts, k, seed, 10, parallel = true,
            farthestInit = true)
        } else {
          // Pin the training sample: k-means|| init plus every Lloyd
          // iteration is a separate job, and without an explicit persist
          // each one re-reads and re-decodes the FULL source parquet just
          // to re-draw the sample. The sample is bounded (fraction /
          // maxTrainVectors), so this is the one copy that belongs in
          // memory.
          val trainDf = sampled.select(
              array_to_vector(col(vecCol).cast("array<double>")).as("__mlvec"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          // 10 Lloyd iterations: a coarse quantizer's recall is governed
          // by the probe count, not centroid convergence past the first
          // few rounds. Same reasoning for random init over k-means||: the
          // parallel init runs several extra distributed passes to seed
          // marginally better centroids, which Lloyd + nprobe sweeping
          // makes irrelevant here — measured 2× of the whole fit.
          val model =
            try new KMeans()
              .setK(k).setSeed(seed).setFeaturesCol("__mlvec")
              .setPredictionCol("__cluster").setMaxIter(10)
              .setInitMode("random")
              .fit(trainDf)
            finally trainDf.unpersist(blocking = false)
          model.clusterCenters.map(_.toArray.map(_.toFloat))
        }
      }
    // Assignment stays in whole-stage codegen: the fused nearest_centroid
    // kernel (one primitive copy of the row vector, tight loops over all
    // centroids; ties to the lower cluster id like KMeans.transform's
    // scan order) — k separate vec_dot calls would re-walk the ArrayData
    // accessor k times. At >= twoLevelAssignMinCells cells the kernel is
    // the two-level variant (top-probes coarse groups, exact within) —
    // see assignKernels for the cost/exactness contract.
    // PQ codebooks train on a BOUNDED driver-side sample (16k rows ×
    // 2688 dims ≈ 172 MB floats): per-subspace Lloyd is embarrassingly
    // parallel and deterministic (Quantize.pqFit — evenly-spaced
    // seeding, no RNG), and the total flop count (ksub·|sample|·d·iters)
    // is seconds on 32 threads — far below the coarse fit above.
    val pqCbs: Array[Array[Array[Float]]] =
      if (!pq) null
      else ivfStep("pq_fit") {
        val rows = sampled.select(col(vecCol).cast("array<float>"))
          .limit(pqTrainVectors).collect()
          .map(_.getSeq[Float](0).toArray)
        require(rows.nonEmpty, "buildIvf: empty PQ training sample")
        graft.operators.Quantize.pqFit(
          rows, graft.operators.Quantize.defaultPqM(rows(0).length))
      }
    val (asgCol, _) = assignKernels(centroids, assignMinCells)
    val assigned = df
      .withColumn("__cluster", asgCol(col(vecCol)))
      .withColumnRenamed(vecCol, "__vec")
    // Two write layouts by ESTIMATED FILE COUNT (see
    // [[GraftConf.IvfWriteExchangeMinFiles]] for the calibration):
    //   - direct (small builds): cluster-sort within each task, no
    //     shuffle — the partitioned write emits one SEQUENTIAL file per
    //     cluster per task (≤ tasks × clusters, one open writer at a
    //     time) without moving the vectors at all; measured 3.5× faster
    //     than an exchange at 1 GB/1000-cell scale, where the write is
    //     bandwidth-bound and the shuffle is pure overhead.
    //   - exchange (high cell counts): ONE hash exchange on __cluster
    //     (same partition count as the input) caps the output at ~cells
    //     files — above ~65k files the direct path's per-file
    //     create/fsync overhead governs the wall (31 vs 134 MB/s
    //     effective, r12), and on a real cluster a tasks × cells file
    //     explosion also crushes the downstream reader's split planning.
    // snappy on the index: near-unit-norm float vectors barely compress,
    // so zstd's extra CPU buys ~20% size but costs 4× on the write AND
    // slows every probe's decode (measured round 3 on the 1.1 GB
    // bucketed store: init 4.2 s snappy vs 16.6 s zstd, selective read
    // 0.9 s vs 2.6 s) — the hot-path codec is snappy; reserve zstd for
    // cold archival tiers.
    // r17: at ≤ graft.ivf.statsObserveMaxCells the per-cell stats ride the
    // write job as observed conditional aggregates — see the conf's scaladoc
    val statsObs =
      if (statsObserveArmed(df.sparkSession, centroids.length))
        Some(org.apache.spark.sql.Observation(s"ivf_stats_${System.nanoTime()}"))
      else None
    ivfStep("assign_write") {
      val inParts = assigned.rdd.getNumPartitions
      // SQ8: quantize BEFORE any exchange so the shuffle moves 1-byte
      // codes, not 4-byte floats (at 10M × 2688 that is the difference
      // between a ~27 GB and a ~108 GB shuffle). `__dist` and the codes
      // live in a projection ABOVE the assignment projection; Catalyst's
      // CollapseProject will not merge them because `__cluster` (a
      // non-trivial expression) is referenced more than once — the
      // O(k·d) kernel still runs once per row (Sq8IndexSpec pins this
      // on the optimized plan).
      val toLay =
        if (pq) pqNarrow(assigned, centroids, pqCbs)
        else if (sq8) sq8Narrow(assigned, centroids)
        else assigned
      val laid =
        if (inParts.toLong * centroids.length >
            GraftConf.IvfWriteExchangeMinFiles.get(df.sparkSession))
          toLay.repartition(inParts, col("__cluster"))
            .sortWithinPartitions(col("__cluster"))
        else toLay.sortWithinPartitions(col("__cluster"))
      // Float layouts: `__dist` rides along as an 8-byte stats column —
      // the assigned squared distance, computed O(d) from the
      // ALREADY-ASSIGNED id (centroid_dist_at) ABOVE the sort/exchange
      // barrier — the barrier blocks project-collapse, so the O(k·d)
      // assignment kernel provably runs once per row (the r14 two-pass
      // stats re-ran it over the train sample: 179 s of the 662 s 2M
      // build, 379 s of the 890 s 4M build). The exchange still moves
      // only (payload, __vec, __cluster); the stats pass below then
      // aggregates this narrow column instead of re-running any kernel.
      val toWrite =
        if (sq8) laid
        else laid.withColumn("__dist",
          centroid_dist_at(col("__vec"), col("__cluster"), centroids))
      val observed = statsObs match {
        case Some(obs) =>
          val aggs = (0 until centroids.length).flatMap { c => Seq(
            count(when(col("__cluster") === c, 1)).as(s"n$c"),
            sum(when(col("__cluster") === c, col("__dist"))).as(s"s$c"),
            max(when(col("__cluster") === c, col("__dist"))).as(s"m$c")) }
          toWrite.observe(obs, aggs.head, aggs.tail: _*)
        case None => toWrite
      }
      observed
        .write.mode("overwrite").option("compression", "snappy")
        .partitionBy("__cluster").parquet(path)
    }
    // Build-time drift baseline (mean assigned-centroid distance) AND
    // per-cluster radii — max (√ of the max assigned squared distance,
    // the admissible MIPS bound) and RMS (√ of the mean, the robust
    // probe-ordering default in [[IvfIndex.nearestClusters]]) — since
    // r15 aggregated from the written `__dist` column over the FULL
    // index in one narrow pass (partition dirs + 8 bytes/row; the
    // 2688-dim vectors are never re-read and NO kernel re-runs). Two
    // upgrades over the r14 sample-side two-pass: the 27–43%-of-wall
    // duplicate assignment kernel is gone, and the max radius is now
    // admissible for EVERY row, not just the sampled ones (a full-data
    // outlier beyond the sample's radius no longer escapes the routing
    // bound). Per-cell counts become EXACT full counts, which is what
    // append()'s count-weighted RMS merge wants anyway.
    // epoch 0 = the build generation; appenders bump it before adding
    // files (see CensusIndex.readEpoch for the freshness contract)
    org.apache.spark.sql.graft.CensusIndex.writeEpoch(df.sparkSession, path, 0L)
    val written = df.sparkSession.read.parquet(path)
    // (cell, n, Σdist, max dist) — from the write job's observed metrics
    // when armed, else the r15 narrow `__dist` rescan
    val stats: Array[(Int, Long, Double, Double)] = statsObs match {
      case Some(obs) => ivfStep("stats") {
        val m = obs.get
        def d(v: Any): Double = v match {
          case null => 0.0
          case x: java.lang.Number => x.doubleValue()
        }
        (0 until centroids.length).iterator.map { c =>
          (c, m(s"n$c").asInstanceOf[Long], d(m(s"s$c")), d(m(s"m$c")))
        }.filter(_._2 > 0).toArray
      }
      case None => ivfStep("stats") {
        written
          .groupBy(col("__cluster").as("__c"))
          .agg(count(lit(1)).as("__n"), sum(col("__dist")).as("__s"),
            max(col("__dist")).as("__m"))
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      }
    }
    val totalN = stats.map(_._2).sum
    val baseline =
      if (totalN == 0) Double.NaN else stats.map(_._3).sum / totalN
    val radii = new Array[Double](centroids.length)
    val rmsRadii = new Array[Double](centroids.length)
    val cellN = new Array[Long](centroids.length)
    stats.foreach { case (c, n, s, mx) =>
      radii(c) = math.sqrt(mx)
      if (n > 0) {
        rmsRadii(c) = math.sqrt(s / n)
        cellN(c) = n
      }
    }
    // Per-(cluster, value) occupancy for the registered categorical
    // columns, counted over the FULL written index — the filtered probe
    // plan's ≥ k widening needs TRUE match counts (a sample estimate
    // showing 0 for a match-bearing cell would wrongly exclude it). One
    // narrow column-pruned scan per registered column, paid once at
    // build; filtered searches on these columns then plan with zero
    // Spark jobs. At the 65536-cell cap × the reference's 46 categories
    // the table is ≤ ~3M entries — driver-trivial.
    val occ = ivfStep("occupancy") {
      occupancyCols.flatMap { oc =>
        if (!written.columns.contains(oc)) None
        else Some(oc -> written.filter(col(oc).isNotNull)
          .groupBy(col("__cluster"), col(oc).cast("string").as("__v"))
          .agg(count(lit(1)).as("__n"))
          .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
          .toMap)
      }.toMap
    }
    // record each registered column's Spark type so the occupancy lookup
    // can gate on literal-type faithfulness (see occupancyCounts)
    val occTypes = occupancyCols.flatMap { oc =>
      if (!written.columns.contains(oc)) None
      else Some(oc -> written.schema(oc).dataType.catalogString)
    }.toMap
    val idx = new IvfIndex(path, centroids, baseline, radii, rmsRadii, cellN,
      occ, occTypes)
    // build-path provenance (handle-scoped, not persisted): which of the
    // two large-index mechanisms this build ran — q118's in-query
    // require() pins that its oracle-matched result came THROUGH the
    // production path, not the small-index fallbacks
    idx.builtWithHierarchicalFit = k >= fitMinK
    idx.builtWithGroupedAssign = centroids.length >= assignMinCells
    // a just-built index has no tombstones — spare the first search the
    // _graft_deletes existence probe (one metadata round trip on an
    // object store; fresh loads still read the directory)
    idx.deletesNow0 = None
    if (pq) { idx.pqCodebooksNow = pqCbs; idx.pqIdColNow = pqIdCol }
    // file census off the relation the stats pass already listed (free)
    // — saveManifest persists it, so a fresh process's load() serves its
    // first search without re-listing the partition tree
    idx.censusNow0 = org.apache.spark.sql.graft.CensusIndex
      .extract(written, path).map { case (ds, fs) => (0L, ds, fs) }
    // data-file schema, tracked independently of the census (r16) — the
    // partition column is layout, not data
    idx.dataSchemaNow = idx.censusNow0.map(_._2).getOrElse(
      org.apache.spark.sql.types.StructType(
        written.schema.filterNot(_.name == "__cluster")))
    // the index is a durable artifact, not a session object: persist the
    // driver-side state so IvfIndex.load reopens it in a fresh process
    // (manifest ≪ data files — see saveManifest scaladoc)
    ivfStep("manifest") { idx.saveManifest(df.sparkSession) }
    idx
  }

  /** Recall@k of `approx` vs `exact` result sets, averaged over queries.
    * Inputs carry (queryIdCol, idCol) result rows; output: one row,
    * `avg_recall`.
    *
    * Every query present in `exact` contributes to the average — a query
    * whose approximate set has zero hits counts as recall 0, not dropped
    * (a semi-join-then-groupBy would silently exclude it and overstate the
    * average). Per-query denominator is `min(k, |exact|)` so filtered
    * queries with fewer than `k` qualifying rows are scored against what an
    * exact search could actually return.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, queryIdCol: String,
      idCol: String, k: Int): DataFrame = {
    val hits = exact.join(approx, Seq(queryIdCol, idCol), "left_semi")
      .groupBy(col(queryIdCol)).agg(count(lit(1)).as("hits"))
    val denom = exact.groupBy(col(queryIdCol)).agg(
      least(count(lit(1)), lit(k.toLong)).cast("double").as("denom"))
    denom.join(hits, Seq(queryIdCol), "left")
      .select((coalesce(col("hits"), lit(0L)).cast("double") / col("denom")).as("recall"))
      .agg(avg(col("recall")).as("avg_recall"))
  }
}
