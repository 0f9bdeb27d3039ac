package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}

/** One scored delta row held by a [[BucketedStore.PreparedTopK]] cache:
  * merge key, commit seq, filter verdict, score, projection values. Delta
  * files are immutable once written, so these cache per delta version — a
  * steady-state read scores only the files committed since the previous
  * read (usually one), and latest-per-key across versions resolves
  * driver-side by max `__seq`.
  */
private[streaming] final case class DRow(k: Any, seq: Long, pass: Boolean,
  score: Double, proj: Seq[Any])

/** Copy-on-write + merge-on-read bucketed table: rows hash-bucketed by key,
  * each version described by a manifest mapping bucket → the version
  * directory that last rewrote it, plus an ordered list of live delta files.
  *
  * Two write paths, the two halves of a real table format:
  *   - [[upsert]] (copy-on-write): rewrite ONLY the buckets containing
  *     updated keys, re-point the rest — cost ∝ touched buckets;
  *   - [[appendDelta]] (merge-on-read): land the updates as one small delta
  *     file and flip the pointer — cost ∝ update size, independent of table
  *     size. Rows the caller already holds (the streaming commit) are
  *     written on the driver with Spark's own parquet writer, so such a
  *     commit runs no Spark job. This is the sustained-QPS path for the
  *     reference's single-object upserts (`README.md:69-70`: p95 ≤ 2 s incl.
  *     re-embedding, concurrent with reads). Readers merge base + deltas
  *     (latest `__seq` per key wins); [[compact]] folds accumulated deltas
  *     into the buckets, bounding read amplification — LSM semantics on
  *     plain parquet.
  *
  * Readers resolve the `_CURRENT` manifest once and only ever see a fully
  * committed version; commits are an atomic pointer flip, and the upsert
  * stream is the single writer.
  *
  * `codec` is the parquet compression for bucket data. Default snappy: the
  * store is a HOT table (every upsert rewrites buckets, every read decodes
  * them) and near-unit-norm embedding floats barely compress, so zstd's
  * ~20% size win cost 4× on writes and ~3× on selective reads when measured
  * round 3 (init 4.2 s vs 16.6 s, 10-row CoW upsert 1.7 s vs 7.4 s,
  * filtered top-k 0.9 s vs 2.6 s, 1445 MB vs 1135 MB at 100k×2688). Pass
  * zstd only for cold, read-rarely tiers.
  */
final class BucketedStore(val root: String, val nBuckets: Int,
    val codec: String = "snappy", val deltaRoot: Option[String] = None) {
  import java.nio.file.{Files, Paths, StandardCopyOption}

  private val pointer = Paths.get(root, "_CURRENT")
  Files.createDirectories(Paths.get(root))

  // The L0 media split: delta files (and consolidation slabs) can live on
  // a different — typically faster — filesystem than the bucket data.
  // Deltas are small and short-lived by contract (consolidation and bucket
  // folds drain them), so pointing `deltaRoot` at low-latency media (local
  // NVMe / tmpfs) insulates the sustained-upsert commit path from
  // throughput stalls on the capacity tier, exactly the LSM deployment
  // shape at cluster scale: WAL/L0 on local disks, L1+ buckets on object
  // storage. Manifests and buckets stay under `root`; a reader needs both
  // mounts. Default: deltas co-located with the buckets.
  private val deltaBase = deltaRoot.getOrElse(root)
  Files.createDirectories(Paths.get(deltaBase))
  private def deltaPath(v: Int): String = s"$deltaBase/v$v/delta"

  private def bucketCol(key: String) =
    pmod(xxhash64(col(key)), lit(nBuckets.toLong)).cast("int")

  /** The store's bucket assignment for `key`, public so a PRODUCING job can
    * pre-partition its output by it and initialize with
    * `preBucketed = true` — at 100 TB the bucket layout belongs in the job
    * that already shuffles the data (or writes it bucketed), not in a
    * second full shuffle at store init.
    */
  def bucketExpr(key: String): org.apache.spark.sql.Column = bucketCol(key)

  def currentVersion: Option[Int] =
    if (Files.exists(pointer)) Some(Files.readString(pointer).trim.toInt) else None

  /** manifest: bucket id → owning version, plus live delta versions (lines
    * `D\tversion`, ascending = commit order)
    */
  private def readManifest(v: Int): (Map[Int, Int], Seq[Int]) = {
    val lines = Files.readString(Paths.get(root, s"v$v", "manifest.tsv"))
      .linesIterator.filter(_.nonEmpty).toSeq
    val buckets = lines.filterNot(_.startsWith("D\t")).map { l =>
      val Array(b, ver) = l.split("\t"); b.toInt -> ver.toInt
    }.toMap
    val deltas = lines.filter(_.startsWith("D\t")).map(_.split("\t")(1).toInt)
    (buckets, deltas)
  }

  private def writeVersion(v: Int, manifest: Map[Int, Int],
      deltas: Seq[Int] = Seq.empty): Unit = {
    val dir = Paths.get(root, s"v$v")
    Files.createDirectories(dir)
    val lines = manifest.toSeq.sorted.map { case (b, ver) => s"$b\t$ver" } ++
      deltas.map(d => s"D\t$d")
    Files.writeString(dir.resolve("manifest.tsv"), lines.mkString("\n"))
    val tmp = Paths.get(root, s"_CURRENT.tmp$v")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def bucketPath(owner: Int, bucket: Int): String =
    s"$root/v$owner/b=$bucket"

  def liveDeltaCount: Int =
    currentVersion.map(v => readManifest(v)._2.size).getOrElse(0)

  /** Latest delta row per key across all live delta files (deltas are tiny
    * by contract — compaction keeps them so — hence the window runs on a
    * small frame and the result broadcasts). `__seq` orders whole delta
    * files (one per commit), so the latest COMMIT per key wins; within a
    * single delta file same-key rows have equal `__seq` and the survivor is
    * arbitrary — the supported contract is at most one row per key per
    * appended batch (see [[UpsertStream.applyUpserts]]). Delta files are
    * read with `manifest`'s base schema plus `__seq` (every delta carries
    * it): inferring their schema would cost a footer job per read.
    */
  private def latestDeltaRows(spark: SparkSession, manifest: Map[Int, Int],
      deltas: Seq[Int], key: String): Option[DataFrame] =
    if (deltas.isEmpty) None
    else {
      val df = spark.read.schema(deltaSchema(spark, manifest))
        .parquet(deltas.map(deltaPath): _*)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(key)).orderBy(col("__seq").desc)
      Some(df.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
    }

  /** Initial full load: write every bucket under v0. The pre-write
    * `repartition` on the bucket column co-locates each bucket in one task,
    * so the write produces one file per bucket instead of
    * tasks × buckets small files (the difference between 64 and ~2000 files
    * here, and between 10⁴ and 10⁷ files at cluster scale).
    */
  def initialize(df: DataFrame, key: String, preBucketed: Boolean = false): Unit = {
    require(currentVersion.isEmpty, s"$root already initialized")
    Files.writeString(Paths.get(root, "_KEY"), key)
    val withB = df.withColumn("__b", bucketCol(key))
    // preBucketed: the caller already co-located rows by bucketExpr(key)
    // (e.g. the producing job's last shuffle) — sort within tasks instead
    // of re-shuffling the payload; files per bucket = tasks that hold it
    val laidOut =
      if (preBucketed) withB.sortWithinPartitions(col("__b"))
      else withB.repartition(nBuckets, col("__b"))
    laidOut
      .write.mode("overwrite").option("compression", codec)
        .partitionBy("__b").parquet(s"$root/v0/data")
    // relocate partition dirs to the bucket layout
    val dataDir = Paths.get(root, "v0", "data")
    (0 until nBuckets).foreach { b =>
      val src = dataDir.resolve(s"__b=$b")
      if (Files.exists(src))
        Files.move(src, Paths.get(bucketPath(0, b)))
    }
    writeVersion(0, (0 until nBuckets).map(_ -> 0).toMap)
  }

  /** Base-bucket frame of the current version (no delta merge), cached per
    * (session, manifest): delta appends leave the bucket-owner map
    * unchanged, so during sustained streaming every read reuses one
    * relation instead of re-listing all bucket directories and re-reading
    * footers per query — measured as the dominant fixed cost of concurrent
    * reads during the 200-QPS tier (and the direct analogue of a serving
    * layer pinning its table snapshot). A fold/initialize changes the
    * manifest and so misses the cache naturally; weak session keys keep
    * stopped sessions collectable.
    */
  @transient private lazy val baseCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, (Map[Int, Int], DataFrame)]())
  private def readBase(spark: SparkSession, manifest: Map[Int, Int]): DataFrame = {
    val cached = baseCache.get(spark)
    if (cached != null && cached._1 == manifest) cached._2
    else {
      val paths = manifest.toSeq.sortBy(_._1).collect {
        case (b, owner) if Files.exists(Paths.get(bucketPath(owner, b))) =>
          bucketPath(owner, b)
      }
      val df = spark.read.parquet(paths: _*)
      baseCache.put(spark, (manifest, df))
      df
    }
  }

  /** Schema of a delta file: the base schema plus the commit's `__seq`. */
  private def deltaSchema(spark: SparkSession, manifest: Map[Int, Int]) =
    readBase(spark, manifest).schema
      .add("__seq", org.apache.spark.sql.types.LongType)

  /** The merge key is fixed per store (recorded at initialize). */
  def key: String = Files.readString(Paths.get(root, "_KEY")).trim

  /** Read the latest snapshot: current buckets merged with any live deltas
    * (latest delta per key wins; base rows lose to any delta on the same
    * key). With no deltas this is a plain multi-directory parquet scan.
    */
  def read(spark: SparkSession): DataFrame =
    readVersion(spark, currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version under $root")))

  /** Time travel: read the snapshot as of committed version `v` — every
    * version's manifest is immutable once written, so any un-vacuumed
    * version reconstructs exactly (the audit/debug/reproduce-a-training-run
    * read path a copy-on-write table gets for free). Fails clearly if `v`
    * was never committed or its files were [[vacuum]]ed away.
    */
  def readVersion(spark: SparkSession, v: Int): DataFrame = {
    require(Files.exists(Paths.get(root, s"v$v", "manifest.tsv")),
      s"version $v does not exist under $root (never committed, or vacuumed)")
    val (manifest, deltas) = readManifest(v)
    val base = readBase(spark, manifest)
    latestDeltaRows(spark, manifest, deltas, key) match {
      case None => base
      case Some(del) =>
        base.join(broadcast(del.select(key)), Seq(key), "left_anti")
          .unionByName(del.drop("__seq"))
    }
  }

  /** All committed, un-vacuumed version ids, ascending. */
  def versions: Seq[Int] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(Paths.get(root))) Seq.empty
    else {
      val stream = Files.list(Paths.get(root)) // close: dir handles leak at ulimit scale
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") &&
          Files.exists(Paths.get(root, n, "manifest.tsv")) => n.drop(1).toInt }
        .toSeq.sorted
      finally stream.close()
    }
  }

  /** Point lookup: the row(s) for `keyValue`, reading ONE bucket plus the
    * live deltas — the O(bucket + deltas) read path that makes the store a
    * serving table, not just a scan target. The key hashes to its bucket
    * via the same expression writes use, so the scan touches 1/nBuckets of
    * the data no matter how large the table is; delta files are tiny by
    * contract. Returns the merged row (latest delta wins over base).
    */
  def lookup(spark: SparkSession, keyValue: Any): DataFrame = {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))
    val (manifest, deltas) = readManifest(v)
    val k = key
    // the store schema from the cached base relation (no footer job): the
    // hash below must run on the KEY COLUMN'S type — xxhash64 is
    // type-dependent, so lookup(7: Int) on a long-keyed store would
    // otherwise hash to a different bucket than the write path used
    val schema = readBase(spark, manifest).schema
    val keyType = schema(k).dataType
    val keyLit = lit(keyValue).cast(keyType)
    val bucket = bucketOf(keyValue, keyType)
    val basePath = bucketPath(manifest(bucket), bucket)
    val base =
      if (Files.exists(Paths.get(basePath)))
        spark.read.schema(schema).parquet(basePath).filter(col(k) === keyLit)
      else // schema-typed empty frame: a key hashing into a never-written
           // bucket must still yield a frame callers can select/filter on
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          schema)
    latestDeltaRows(spark, manifest, deltas, k) match {
      case None => base
      case Some(del) =>
        val delK = del.filter(col(k) === keyLit)
        base.join(broadcast(delK.select(k)), Seq(k), "left_anti")
          .unionByName(delK.drop("__seq"))
    }
  }

  /** [[bucketExpr]] evaluated on the driver for one key value, cast to the
    * key column's type first (Catalyst's `pmod(xxhash64(cast(v)), n)`,
    * the expression the write path runs, without a job).
    */
  private def bucketOf(keyValue: Any,
      keyType: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    Cast(Pmod(new XxHash64(Seq(Cast(Literal(keyValue), keyType, tz))),
      Literal(nBuckets.toLong)), org.apache.spark.sql.types.IntegerType, tz)
      .eval().asInstanceOf[Int]
  }

  /** Drop versions older than the last `keepLast` — the retention/GC half
    * of the copy-on-write design, without which every upsert's rewritten
    * buckets accumulate forever. A version directory survives if it is one
    * of the kept manifests, OR any kept manifest still references it as a
    * bucket owner or live delta (copy-on-write re-points untouched buckets
    * at old version dirs, so "old" files are often still live — vacuum
    * collects the unreferenced remainder only). Readers of kept versions
    * are unaffected; time travel to vacuumed versions fails with a clear
    * error. Returns the deleted version ids.
    */
  def vacuum(keepLast: Int = 1): Seq[Int] = {
    require(keepLast >= 1, "must keep at least the current version")
    import scala.jdk.CollectionConverters._
    val all = versions
    val kept = all.takeRight(keepLast).toSet
    val referenced = kept.flatMap { v =>
      val (manifest, deltas) = readManifest(v)
      manifest.values.toSet ++ deltas
    } ++ kept
    val doomed = all.filterNot(referenced)
    doomed.foreach { v =>
      val dir = Paths.get(root, s"v$v")
      val stream = Files.walk(dir)
      try stream.iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
      finally stream.close()
      // the version's delta files live on the delta tier when split
      if (deltaBase != root) deleteRecursively(Paths.get(deltaBase, s"v$v"))
    }
    // sweep orphaned consolidation staging dirs (a crash between the
    // staging write and the manifest move leaves one behind; in-flight
    // merges of THIS handle are excluded via activeStaging)
    val ls = Files.list(Paths.get(deltaBase))
    try ls.iterator().asScala
      .filter(p => p.getFileName.toString.startsWith(".stage-") &&
        !activeStaging.contains(p.toString))
      .toSeq.foreach(deleteRecursively)
    finally ls.close()
    doomed
  }

  // Serializes version transitions: the stream thread's appends/folds and
  // an ASYNC minor compaction's manifest swap may interleave — every
  // read-manifest → writeVersion sequence must hold this lock. There is
  // one writer THREAD per path by contract; the lock only arbitrates the
  // background merge against it.
  private val versionLock = new Object

  /** Merge-on-read append (the sustained-QPS write path): land `updates` as
    * one small delta file + pointer flip. Cost ∝ batch size, independent of
    * table size — this is what keeps single-object upserts under the
    * reference's 2 s p95 at any scale. Call [[compact]] when
    * [[liveDeltaCount]] grows past the read-amplification budget.
    *
    * This overload writes through a Spark job (`updates` is a plan); rows
    * already on the driver go through the row overload, which runs none.
    */
  def appendDelta(updates: DataFrame, key: String): Int =
    commitDelta { (dir, seq) =>
      updates.withColumn("__seq", lit(seq)).coalesce(1)
        .write.mode("overwrite").parquet(dir)
    }

  /** [[appendDelta]] for rows the driver already holds (the streaming
    * commit's collected micro-batch): `rows` of `schema` — the base
    * schema, no `__seq` — are written as the delta file ON THE DRIVER by
    * Spark's own parquet writer ([[org.apache.spark.sql.graft.Bridge.writeParquetFile]]):
    * the same file a write job would produce, without the job, its task
    * and its commit protocol. Returns the committed version.
    */
  def appendDelta(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, rows: Seq[Row]): Int =
    commitDelta { (dir, seq) =>
      writeRows(spark, schema, rows.iterator.map(r => Row.fromSeq(r.toSeq :+ seq)), dir)
    }

  /** Write driver-held rows of `schema` plus their `__seq` (non-null, as
    * a write job's `lit(seq)` column is) as one parquet file in `dir`.
    */
  private def writeRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, rows: Iterator[Row],
      dir: String): Unit =
    org.apache.spark.sql.graft.Bridge.writeParquetFile(spark,
      schema.add("__seq", org.apache.spark.sql.types.LongType, nullable = false),
      rows, dir)

  /** The one delta-commit transition: under the version lock, read the
    * manifest, `write(dir, seq)` the delta file of the next version, then
    * flip the manifest — the commit point. A directory left at the next
    * version's delta path (a crashed or failed earlier attempt, never
    * committed) is replaced first.
    */
  private def commitDelta(write: (String, Long) => Unit): Int =
    versionLock.synchronized {
      val v = currentVersion.getOrElse(
        throw new IllegalStateException("initialize first"))
      val next = v + 1
      val (manifest, deltas) = readManifest(v)
      deleteRecursively(Paths.get(deltaPath(next)))
      write(deltaPath(next), next.toLong)
      writeVersion(next, manifest, deltas :+ next)
      next
    }

  /** Minor compaction: consolidate the live delta files into one —
    * latest-per-key rows survive — without rewriting any bucket. Cost ∝
    * delta bytes (tiny by contract), keeping the read side's merge
    * amplification bounded (readers see ≤ a handful of delta files instead
    * of one per commit) while the expensive bucket fold ([[compact]])
    * keeps its own cadence — the L0-merge half of the LSM design.
    *
    * SAFE TO RUN CONCURRENTLY with the appending writer (the shape
    * [[UpsertStream.runDelta]] uses): the delta set is captured and the
    * merged file written entirely OUTSIDE the version lock — the slow part
    * never blocks a commit — then the manifest swap re-reads the current
    * state under the lock and keeps any deltas appended meanwhile. Each
    * surviving row KEEPS its original `__seq`, so key precedence against
    * deltas outside the merged set (landed later, or excluded by the size
    * tier) is decided row-by-row, exactly as before the merge.
    * Old delta dirs become unreferenced and are collected by [[vacuum]].
    *
    * TIERED: deltas whose directory already exceeds `slabMaxBytes` are
    * left alone. Without the tier, every cycle re-merges the previous
    * cycle's output — the slab grows with total streamed rows and each
    * cycle's cost grows with it (O(streamed²) total work; measured as the
    * consolidation outgrowing its budget and stalling the commit path it
    * exists to protect). With the tier, a cycle's cost is bounded by
    * (consolidateEvery × batch) bytes; readers see ≤ a few slabs + the
    * small live deltas; slabs are folded by the next [[compact]].
    */
  def consolidateDeltas(spark: SparkSession,
      slabMaxBytes: Long = 16L * 1024 * 1024): Int = {
    val (v0, manifest, live) = versionLock.synchronized {
      val v = currentVersion.getOrElse(
        throw new IllegalStateException("initialize first"))
      val (m, d) = readManifest(v)
      (v, m, d)
    }
    val captured = live.filter(d => dirBytes(deltaPath(d)) < slabMaxBytes)
    if (captured.length <= 1) v0
    else stageAndSwap(captured) { dir =>
      latestDeltaRows(spark, manifest, captured, key).get
        .write.mode("overwrite").parquet(dir)
    }
  }

  private def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      import scala.jdk.CollectionConverters._
      val stream = Files.walk(p)
      try stream.iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      finally stream.close()
    }
  }

  /** L0 merge from DRIVER-BUFFERED rows — the [[UpsertStream.runDelta]]
    * shape, where every captured delta's rows were collected to the driver
    * at commit time anyway. The latest-per-key merge is an in-memory hash
    * map (later version wins; within a version, later row wins — exactly
    * [[latestDeltaRows]]' order) and the slab is written on the driver by
    * Spark's own parquet writer, as the row [[appendDelta]] writes a delta —
    * no Spark job — so the whole merge costs about one commit and runs
    * SYNCHRONOUSLY on the writer thread. The distributed
    * [[consolidateDeltas]] ran concurrent Spark jobs against the live
    * commit path instead — measured on the 200-QPS tier as 3–10×
    * commit-latency spikes while a merge was in flight (driver/scheduler
    * contention, not data volume), plus an unbounded post-tier tail.
    *
    * `rowsByVersion` rows carry the BASE schema (no `__seq`); each
    * surviving row is stamped with its own version, preserving precedence
    * against deltas outside the merge. Returns the current version
    * unchanged when fewer than two versions are captured, or if any
    * captured version is no longer a live delta (single-writer contract
    * makes that unreachable; checked because a stale merge would resurrect
    * folded rows).
    */
  def consolidateDeltasFromRows(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rowsByVersion: Seq[(Int, Seq[org.apache.spark.sql.Row])]): Int = {
    val v0 = currentVersion.getOrElse(
      throw new IllegalStateException("initialize first"))
    if (rowsByVersion.length <= 1) v0
    else {
      val keyIdx = schema.fieldIndex(key)
      val merged =
        new java.util.LinkedHashMap[Any, org.apache.spark.sql.Row]()
      rowsByVersion.sortBy(_._1).foreach { case (v, rows) =>
        rows.foreach { r =>
          merged.put(r.get(keyIdx),
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ v.toLong))
        }
      }
      stageAndSwap(rowsByVersion.map(_._1)) { dir =>
        import scala.jdk.CollectionConverters._
        writeRows(spark, schema, merged.values().iterator().asScala, dir)
      }
    }
  }

  /** Shared tail of both consolidation paths: `write` the merged slab into
    * a staging dir OUTSIDE the lock (the staging dir is deleted on ANY
    * failure before the move lands — vacuum only collects v* dirs, so a
    * leaked .stage-* would live forever; [[vacuum]] also sweeps orphans as
    * a second line), then swap it into the manifest under the version
    * lock, keeping any deltas appended meanwhile. As in [[commitDelta]], a
    * directory left at the next version's delta path is replaced.
    */
  private def stageAndSwap(captured: Seq[Int])(write: String => Unit): Int = {
    // staging lives on the DELTA tier: the final rename into deltaPath
    // must stay a same-filesystem atomic move
    val staging = s"$deltaBase/.stage-${java.util.UUID.randomUUID()}"
    activeStaging.add(staging)
    var moved = false
    try {
      write(staging)
      versionLock.synchronized {
        val v = currentVersion.get
        val (manifest, deltas) = readManifest(v)
        if (!captured.forall(deltas.contains))
          v // a captured delta was folded meanwhile: abort, keep current
        else {
          val next = v + 1
          Files.createDirectories(Paths.get(deltaBase, s"v$next"))
          deleteRecursively(Paths.get(deltaPath(next)))
          Files.move(Paths.get(staging), Paths.get(deltaPath(next)))
          moved = true
          // list order is cosmetic — key precedence lives in the per-row
          // __seq values the merge preserved
          writeVersion(next, manifest,
            next +: deltas.filterNot(captured.contains))
          next
        }
      }
    } finally {
      if (!moved) deleteRecursively(Paths.get(staging))
      activeStaging.remove(staging)
    }
  }

  // staging dirs of in-flight consolidations (written OUTSIDE the version
  // lock), so vacuum's orphan sweep never deletes a live one
  private val activeStaging =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      val stream = Files.walk(dir)
      try stream.iterator().asScala.toSeq.reverse
        .foreach(p => try Files.delete(p) catch { case _: Exception => () })
      finally stream.close()
    }

  /** Fold live deltas into their buckets (copy-on-write merge) — the LSM
    * compaction step. `maxBuckets` bounds one cycle's IO: only the most
    * delta-loaded buckets are rewritten; remaining delta rows consolidate
    * into ONE delta file (seq values preserved, merge order unchanged).
    * Repeated cycles drain the backlog — at 100 TB this keeps compaction an
    * O(budget) background task instead of an O(table) rewrite.
    *
    * Holds the version lock for its duration: folds serialize against the
    * async minor compaction's manifest swap (a fold recomputes the whole
    * delta list, so an interleaved swap could resurrect folded rows).
    */
  def compact(spark: SparkSession, key: String,
      maxBuckets: Int = Int.MaxValue): Int = versionLock.synchronized {
    val v = currentVersion.getOrElse(
      throw new IllegalStateException("initialize first"))
    val (manifest, deltas) = readManifest(v)
    latestDeltaRows(spark, manifest, deltas, key) match {
      case None => v
      case Some(del) =>
        val withB = del.withColumn("__b", bucketCol(key))
        val pressure = withB.groupBy(col("__b"))
          .agg(count(lit(1)).as("n")).orderBy(desc("n"), col("__b"))
          .collect().map(_.getInt(0))
        if (pressure.length <= maxBuckets)
          mergeIntoBuckets(del.drop("__seq"), key)
        else {
          val selected = pressure.take(maxBuckets).toSeq
          mergeIntoBuckets(
            withB.filter(col("__b").isin(selected: _*)).drop("__b", "__seq"),
            key,
            leftoverDeltas = Some(
              withB.filter(!col("__b").isin(selected: _*)).drop("__b")))
        }
    }
  }

  /** Copy-on-write upsert: rewrite only buckets containing updated keys —
    * ONE Spark job regardless of how many buckets are touched. Any live
    * deltas are folded in the same commit (updates win over deltas).
    */
  def upsert(updates: DataFrame, key: String): Int = versionLock.synchronized {
    val spark = updates.sparkSession
    val v = currentVersion.getOrElse(
      throw new IllegalStateException("initialize first"))
    val (manifest, deltas) = readManifest(v)
    val effective = latestDeltaRows(spark, manifest, deltas, key) match {
      case None => updates
      case Some(del) =>
        UpsertStream.applyUpserts(del.drop("__seq"), updates, key)
    }
    mergeIntoBuckets(effective, key)
  }

  private def mergeIntoBuckets(updates: DataFrame, key: String,
      leftoverDeltas: Option[DataFrame] = None): Int = {
    val spark = updates.sparkSession
    val v = currentVersion.get
    val next = v + 1
    val (manifest, _) = readManifest(v)
    val withB = updates.withColumn("__b", bucketCol(key))
    val touched = withB.select("__b").distinct().collect().map(_.getInt(0)).sorted
    val existingPaths = touched.map(b => bucketPath(manifest(b), b))
      .filter(p => Files.exists(Paths.get(p)))
    val merged =
      if (existingPaths.isEmpty) withB
      else {
        val base = spark.read.parquet(existingPaths.toIndexedSeq: _*)
          .withColumn("__b", bucketCol(key))
        UpsertStream.applyUpserts(base, withB, key)
      }
    // No repartition here: base rows arrive bucket-aligned from the store's
    // own per-bucket files, so tasks already write ~one bucket each; a
    // shuffle would move every touched vector for no file-count win.
    val dataDir = s"$root/v$next/data"
    merged.write.mode("overwrite").option("compression", codec)
      .partitionBy("__b").parquet(dataDir)
    touched.foreach { b =>
      val src = Paths.get(dataDir, s"__b=$b")
      if (Files.exists(src)) Files.move(src, Paths.get(bucketPath(next, b)))
    }
    // unfolded delta rows (bounded compaction) consolidate into one file
    // under this version; otherwise the delta list clears
    val newDeltas = leftoverDeltas match {
      case Some(rest) =>
        rest.coalesce(1).write.mode("overwrite").parquet(deltaPath(next))
        Seq(next)
      case None => Seq.empty[Int]
    }
    writeVersion(next, manifest ++ touched.map(_ -> next), newDeltas)
    next
  }

  /** Create a [[PreparedTopK]] serving handle for this store. `slack`
    * defaults to max(4·k, 256) extra cached base rows (the displacement
    * budget before a read falls back to a full scan).
    */
  def prepareTopK(spark: SparkSession, vecCol: String, query: Array[Float],
      k: Int, filter: Option[Column] = None,
      projection: Seq[String] = Seq.empty, slack: Int = -1,
      deltaCacheRows: Int = 500000): PreparedTopK =
    new PreparedTopK(spark, vecCol, query, k, filter, projection,
      if (slack >= 0) slack else math.max(4 * k, 256), deltaCacheRows)

  /** Snapshot-prepared filtered top-k — the MVCC serving shape for reads
    * concurrent with sustained upserts. The bucketed base is immutable
    * between bucket folds, so its top-(k+slack) is scored ONCE per bucket
    * manifest and cached driver-side; each [[read]] then scans only the
    * live delta files (tiny by contract — minor compaction keeps them so)
    * and merges:
    *
    *   topk(base ∪ Δ) = topk((cached base hits \ Δ-keys) ∪ σ_filter(Δ_latest))
    *
    * A delta on key K displaces K's base row regardless of the read filter
    * (K's current version IS the delta row), so cached hits are dropped by
    * key against the full delta key set. Exactness: the cache is a prefix
    * of the base's score order, so the merge equals the full merged-store
    * scan whenever (a) ≥ k cached hits survive displacement, or (b) the
    * cache holds the COMPLETE filtered base (fewer matching rows than
    * k+slack). Otherwise the read falls back to the full scan — exact
    * always, fast in the overwhelmingly common case. Per-read cost at any
    * table size: O(delta bytes) + O(k+slack) driver work; the base is
    * served from a materialized result, not rescanned. The cache refreshes
    * itself when the bucket manifest changes (compaction/CoW upsert).
    */
  final class PreparedTopK private[BucketedStore] (
      spark: SparkSession, vecCol: String, query: Array[Float], k: Int,
      filter: Option[Column], projection: Seq[String], slack: Int,
      deltaCacheRows: Int) {
    import graft.functions.vec_dot

    private val keyCol = BucketedStore.this.key
    private val baseProj: Seq[String] = (keyCol +: projection).distinct
    private val scoreIdx = baseProj.length
    private val keyIdx = baseProj.indexOf(keyCol)
    private val projIdx = projection.map(baseProj.indexOf)
    // (bucket manifest, cached base hits as (baseProj..., score) rows)
    @volatile private var cached: (Map[Int, Int], Array[Row]) = null
    private val fast = new java.util.concurrent.atomic.AtomicLong
    private val fallbacks = new java.util.concurrent.atomic.AtomicLong
    /** Reads served from the driver-side caches. A fast read MAY still run
      * bounded narrow scans of newly-committed delta files (the cache
      * admission in `deltaRows`) — what it never does is rescan the base
      * or merge the full delta set distributively.
      */
    def fastReadCount: Long = fast.get
    /** Reads whose RESULT required a Spark job: displacement past the
      * slack budget (full merged scan) or an oversized delta past the
      * cache guard (distributed delta merge). Exact either way — this is
      * a latency signal, not a correctness one.
      */
    def fallbackReadCount: Long = fallbacks.get

    private val deltaCache =
      scala.collection.mutable.HashMap[Int, Array[DRow]]()
    // guard: past this many cached delta rows the store's small-delta
    // contract is being violated (e.g. bulk backfills through the delta
    // path) — stop caching and serve via the distributed scan instead
    private val maxCachedDeltaRows = deltaCacheRows

    private def num(a: Any): Double = a.asInstanceOf[Number].doubleValue()

    private def passCol: Column =
      filter.map(f => coalesce(f.cast("boolean"), lit(false)))
        .getOrElse(lit(true))

    /** Scan+score one delta relation into DRows — shared by the per-version
      * cache fill and the over-guard distributed merge.
      */
    private def scoreDeltas(df: DataFrame): Array[DRow] = {
      val sel = Seq(col(keyCol).as("__k"), col("__seq"),
        passCol.as("__pass"),
        graft.functions.vec_dot(col(vecCol), typedLit(query)).as("__s")) ++
        projection.map(col)
      df.select(sel: _*).collect().map { r =>
        DRow(r.get(0), r.getLong(1), r.getBoolean(2), num(r.get(3)),
          (0 until projection.length).map(i => r.get(4 + i)))
      }
    }

    // live delta versions too large to admit — remembered so a read never
    // re-scans an oversized file just to rediscover it is oversized
    private val oversized = scala.collection.mutable.HashSet[Int]()

    /** Scored rows for every live delta version: cache hits for files seen
      * before, one narrow scan per newly-committed file. Returns None when
      * any live delta exceeded the admission budget (caller serves via the
      * distributed merge). The guard bounds the CACHE, not the over-path
      * read: each admission scan is `limit`-bounded so no more than the
      * remaining budget + 1 rows ever reach the driver here, an oversized
      * file is never admitted (and never re-scanned — it is remembered in
      * `oversized` until consolidation evicts it), and SMALL deltas
      * committed after an oversized one are still admitted, so one bulk
      * backfill does not disable caching of subsequent normal commits.
      * The distributed-merge path the caller falls back to collects one
      * narrow DRow per distinct delta KEY — bounded by the store's delta
      * volume between folds, not by this guard. Synchronized with base
      * refresh — one reader thread is the intended shape, the lock just
      * makes others safe.
      */
    private def deltaRows(deltas: Seq[Int],
        schema: org.apache.spark.sql.types.StructType): Option[Iterable[DRow]] =
      this.synchronized {
        deltaCache.keys.filterNot(deltas.contains).toSeq
          .foreach(deltaCache.remove) // consolidated away: slab re-read below
        oversized.filterNot(deltas.contains).toSeq.foreach(oversized.remove)
        var total = deltaCache.valuesIterator.map(_.length.toLong).sum
        deltas.filterNot(d => deltaCache.contains(d) || oversized.contains(d))
          .foreach { d =>
            val budget = (maxCachedDeltaRows - total).toInt
            if (budget <= 0) oversized.add(d)
            else {
              // read with the known schema: inferring it would run a
              // footer-merge job per admitted delta
              val got = scoreDeltas(spark.read.schema(schema)
                .parquet(deltaPath(d)).limit(budget + 1))
              if (got.length > budget) oversized.add(d)
              else { total += got.length; deltaCache.put(d, got) }
            }
          }
        if (oversized.nonEmpty) None
        else Some(deltaCache.valuesIterator.flatten.toVector)
      }

    private def ensureBase(manifest: Map[Int, Int]): Array[Row] =
      this.synchronized {
        val c = cached
        if (c != null && c._1 == manifest) c._2
        else {
          val hits = graft.operators.VectorSearch.topK(
            readBase(spark, manifest), vecCol, query, k + slack, filter,
            baseProj).collect()
          cached = (manifest, hits)
          hits
        }
      }

    /** One read against the CURRENT snapshot. Returns up to k rows shaped
      * (projection..., score), best first — same rows as
      * `VectorSearch.topK(store.read(spark), …).collect()`.
      */
    def read(): Array[Row] = {
      val v = currentVersion.getOrElse(
        throw new IllegalStateException(s"no committed version under $root"))
      val (manifest, deltas) = readManifest(v)
      val base = ensureBase(manifest)
      // counts as fallback when the read's RESULT needed a distributed
      // job (full-scan or delta-merge); the fast path's bounded admission
      // scans of new delta files do not flip this — see fastReadCount
      var ranJob = false
      val out: Seq[(Double, Seq[Any])] =
        if (deltas.isEmpty)
          base.iterator.map(r =>
            (num(r.get(scoreIdx)), projIdx.map(r.get) :+ r.get(scoreIdx))).toSeq
        else {
          val latest: Iterable[DRow] = deltaRows(deltas, deltaSchema(spark, manifest)) match {
            case Some(rows) =>
              // latest commit per key wins (consolidated slabs keep each
              // row's original __seq, so precedence survives merges)
              rows.groupBy(_.k).valuesIterator
                .map(_.maxBy(_.seq)).toVector
            case None =>
              // delta volume past the cache guard: distributed merge, one
              // narrow job — no embedding bytes reach the driver
              ranJob = true
              scoreDeltas(latestDeltaRows(spark, manifest, deltas, keyCol).get).toSeq
          }
          val deltaKeys = latest.map(_.k).toSet
          val survivors = base.filter(r => !deltaKeys.contains(r.get(keyIdx)))
          val baseComplete = base.length < k + slack
          if (!baseComplete && survivors.length < k) {
            fallbacks.incrementAndGet()
            // same output shape as the fast path: (projection..., score)
            return graft.operators.VectorSearch.topK(
                readVersion(spark, v), vecCol, query, k, filter, projection)
              .select(projection.map(col) :+ col("score"): _*)
              .collect()
          }
          survivors.iterator.map(r =>
            (num(r.get(scoreIdx)), projIdx.map(r.get) :+ r.get(scoreIdx))).toSeq ++
            latest.iterator.filter(_.pass).map(d =>
              (d.score, d.proj :+ (d.score: Any))).toSeq
        }
      if (ranJob) fallbacks.incrementAndGet() else fast.incrementAndGet()
      out.sortBy(-_._1).take(k).map(t => Row(t._2: _*)).toArray
    }
  }
}

object UpsertStream {

  // One shared background thread for ALL delta streams' minor compactions:
  // L0 merges are IO-bound maintenance — a single daemon worker is both the
  // throttle (two streams can't saturate the disk with merges) and the
  // no-leak shape (nothing to shut down per query).
  private lazy val consolidator =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-delta-consolidator")
      t.setDaemon(true)
      t
    })

  /** Merge semantics: rows of `updates` replace rows of `base` with the same
    * `key`; new keys append. (`base LEFT ANTI updates` ∪ `updates`.)
    *
    * Intra-batch duplicates: when one batch carries several rows for the
    * same key, the winner is the highest `orderCol` value (an event
    * timestamp or batch-local sequence the producer controls). Without an
    * `orderCol` the tie-break falls back to `monotonically_increasing_id`,
    * which orders by partition layout, not arrival order — the surviving row
    * is then arbitrary, so the supported contract in that mode is at most
    * one update per key per batch (what the streaming sources here produce).
    */
  def applyUpserts(base: DataFrame, updates: DataFrame, key: String,
      orderCol: Option[String] = None): DataFrame = {
    val tieBreak = orderCol.map(col(_).desc)
      .getOrElse(monotonically_increasing_id().desc)
    val deduped = updates
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(tieBreak)))
      .filter(col("__rn") === 1).drop("__rn")
    base.join(broadcast(deduped.select(key)), Seq(key), "left_anti")
      .unionByName(deduped)
  }

  /** Handle for [[runIndexIngest]]: [[index]] is the CURRENT IvfIndex —
    * inline rebalances swap it, so serving code reads through this
    * accessor rather than pinning the launch-time handle.
    */
  final class IndexIngest private[streaming] (
      initial: graft.operators.VectorSearch.IvfIndex) {
    @volatile private var current = initial
    private[streaming] def update(
        i: graft.operators.VectorSearch.IvfIndex): Unit = current = i
    /** The current index handle (swapped by inline rebalances). */
    def index: graft.operators.VectorSearch.IvfIndex = current
    /** Commits applied so far (diagnostic). */
    @volatile private[streaming] var commitCount: Int = 0
    def commits: Int = commitCount
    /** Inline rebalances that actually split a cell (diagnostic). */
    @volatile private[streaming] var rebalanceCount: Int = 0
    def rebalances: Int = rebalanceCount
    /** Inline tail compactions run (diagnostic). */
    @volatile private[streaming] var compactionCount: Int = 0
    def compactions: Int = compactionCount
    /** Single BACKGROUND maintenance worker (r17): compactions and
      * rebalances run here, off the commit path — the ingest keeps
      * committing tail files while a fold or split is in flight (the
      * write-side transitions serialize on the index's maintenance
      * lock; see IvfIndex.maintLock). At most one maintenance op runs
      * at a time; cadence hits during a run are skipped (the next
      * cadence catches up — maintenance is idempotent housekeeping).
      */
    private[streaming] val maintExec =
      java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, "graft-index-maint")
        t.setDaemon(true)
        t
      })
    @volatile private[streaming] var maintBusy: Boolean = false
    /** Block until any in-flight background maintenance completes —
      * test/measurement hook for deterministic post-stream state.
      */
    def awaitMaintenance(): Unit = {
      val f = maintExec.submit(new Runnable { def run(): Unit = () })
      try { f.get(300, java.util.concurrent.TimeUnit.SECONDS); () }
      catch { case _: Exception => () }
    }
    @volatile private[streaming] var query: StreamingQuery = _
    def streamingQuery: StreamingQuery = query
    def processAllAvailable(): Unit =
      if (query != null) query.processAllAvailable()
    def stop(): Unit = {
      if (query != null) query.stop()
      maintExec.shutdown()
      try {
        maintExec.awaitTermination(300,
          java.util.concurrent.TimeUnit.SECONDS)
        ()
      } catch { case _: InterruptedException => () }
    }
  }

  /** Streaming ANN-index ingest — the arc from the streaming layer into
    * the vector index: each micro-batch lands in the index's TAIL
    * segment ([[graft.operators.VectorSearch.IvfIndex.appendTail]] —
    * ONE file per commit, no per-cell fan-out; searches through
    * [[IndexIngest.index]] read `probed cells ∪ tail`, so new vectors
    * are visible at micro-batch latency), and every `compactEvery`
    * commits — or when the tail outgrows `compactMaxRows` — an inline
    * [[graft.operators.VectorSearch.IvfIndex.compactTail]] migrates the
    * tail into its real cells, restoring the pruned layout. This is the
    * LSM shape the write path needs: the r16 design appended a file per
    * touched cell per commit, and at single-object rates that fan-out
    * measured ~2 s/commit — the whole p95 (BENCH_ingest_r17; the tail
    * commit is one small write job). foreachBatch replays
    * AT-LEAST-ONCE from the last committed offset; the per-batch
    * (checkpoint, batchId) marker fence (r17, below) makes the replay
    * idempotent except for a crash landing exactly between an append
    * and its marker write, which duplicates at most that one batch
    * (documented at the fence).
    *
    * Inline maintenance: every `rebalanceEvery` commits (0 = never) the
    * ingest runs [[graft.operators.VectorSearch.IvfIndex.rebalance]] in
    * the commit gap. A skewed stream — the hot-topic crawl burst that
    * concentrates a day's vectors in one cell — is healed at hot-cell
    * cost (BENCH_maint1m_r16: a 54×-mean cell split 15× down for 0.7%
    * of the files rewritten), and the handle swaps to the returned
    * index; an even stream pays one in-memory cellCounts scan per
    * cadence (rebalance returns `this` unchanged when nothing is hot).
    * Single writer per index, as with batch [[IvfIndex.append]].
    *
    * Reader contract during a cadence commit: the rebalance REPLACES
    * the hot cell's files, so in-flight searches racing it follow the
    * scrub/vacuum contract — a reader may hit a retryable read failure
    * on a dropped original, and a search STARTED between the replay and
    * the handle swap can miss the moved rows. Serve queries from a
    * separate process over load()ed handles (the epoch keeps fresh
    * loads consistent), or quiesce in-process serving across the
    * commit gap; reads started after the swap are consistent.
    */
  def runIndexIngest(updates: DataFrame,
      index0: graft.operators.VectorSearch.IvfIndex, vecCol: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      rebalanceEvery: Int = 0, hotFactor: Double = 2.0,
      maxCells: Int = 65536,
      localMap: Option[(Seq[Row] => Seq[Row],
        org.apache.spark.sql.types.StructType)] = None,
      onCommit: (Long, Seq[Row]) => Unit = (_, _) => (),
      compactEvery: Int = 64, compactMaxRows: Long = 262144L): IndexIngest = {
    val h = new IndexIngest(index0)
    // Replay fence (r17): foreachBatch is AT-LEAST-ONCE — after a crash
    // the stream re-offers the last batch whose side effect may already
    // be on disk, and a re-appended batch would serve duplicate rows
    // with no dedup or scrub path keyed to them. The index root carries
    // a (checkpoint, batchId) marker written AFTER each append; on
    // restart FROM THE SAME CHECKPOINT, batches at or below the marker
    // are skipped. The marker lands after the data (there is no atomic
    // data+marker commit on a plain file layout), so the fence shrinks
    // the duplicate window from "every restart re-appends one batch" to
    // "only a crash BETWEEN append and marker duplicates that one batch"
    // — the standard foreachBatch idempotence shape; exactly-once needs
    // a transactional sink. A DIFFERENT checkpoint path invalidates the
    // marker (batchIds restart at 0 per checkpoint).
    @volatile var fence = Long.MinValue
    @volatile var fenceArmed = false
    val q = updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!fenceArmed) {
          fence = IngestMarker.read(batch.sparkSession, h.index.path)
            .collect { case (ck, b) if ck == checkpoint => b }
            .getOrElse(Long.MinValue)
          fenceArmed = true
        }
        if (batchId > fence) {
          val idx = h.index
          val (applied: Seq[Row], appended: Boolean) = localMap match {
            case Some((f, schema)) =>
              // runDelta's collected shape: the micro-batch (ids, by
              // contract small) collects ONCE, maps driver-side (the
              // per-object re-embed), and appends from a local relation
              // — one batch-plan execution instead of the emptiness
              // probe + the append job recomputing it
              val rows = f(batch.collect().toSeq)
              if (rows.nonEmpty) {
                import scala.jdk.CollectionConverters._
                idx.appendTail(batch.sparkSession.createDataFrame(
                  rows.asJava, schema), vecCol)
                ()
              }
              (rows, rows.nonEmpty)
            case None =>
              if (batch.isEmpty) (Seq.empty[Row], false)
              else { idx.appendTail(batch, vecCol); (Seq.empty[Row], true) }
          }
          if (appended) {
            IngestMarker.write(batch.sparkSession, idx.path, checkpoint,
              batchId)
            fence = batchId
            h.commitCount += 1
            // a background rebalance may have swapped the handle while
            // this batch appended through the OLD one — the fresh
            // handle's census/tail snapshot then predates this batch's
            // tail file. Detected deterministically here (the file is
            // on disk by now): drop the fresh handle's census so its
            // next read re-lists and re-counts. Without this, a reader
            // could memoize tailRows=0 in the gap and serve searches
            // blind to rows whose onCommit already fired.
            if (h.index ne idx) h.index.dropCensus()
            onCommit(batchId, applied)
            // maintenance cadence — dispatched to the BACKGROUND worker
            // so neither a tail fold nor a hot-cell split ever blocks a
            // commit (the LSM contract: writers pay O(1), housekeeping
            // runs behind). One op in flight at a time; a cadence hit
            // during a run is skipped, the next one catches up.
            val wantCompact = compactEvery > 0 &&
              (h.commitCount % compactEvery == 0 ||
                idx.tailRowsNow(batch.sparkSession) > compactMaxRows)
            val wantRebalance = rebalanceEvery > 0 &&
              h.commitCount % rebalanceEvery == 0
            if ((wantCompact || wantRebalance) && !h.maintBusy) {
              h.maintBusy = true
              val spark = batch.sparkSession
              h.maintExec.submit(new Runnable {
                def run(): Unit = try {
                  // the worker thread INHERITS the streaming query's
                  // job group (InheritableThreadLocal, copied at thread
                  // creation from the foreachBatch thread) — without
                  // re-grouping, query.stop() at stream shutdown
                  // cancels in-flight maintenance jobs mid-stage
                  // (observed: rebalance stage writes killed with
                  // SPARK_JOB_CANCELLED at tier stop). Maintenance is
                  // crash-safe against that (journal discipline), but
                  // it must not be COUPLED to the stream's lifecycle:
                  // it owns its own group, and stop() awaits it.
                  spark.sparkContext.setJobGroup("graft-index-maint",
                    "background index maintenance (compact/rebalance)",
                    interruptOnCancel = false)
                  spark.sparkContext
                    .setLocalProperty("spark.sql.execution.id", null)
                  val cur = h.index
                  if (wantRebalance) {
                    // rebalance scrubs + compacts first (its hot-cell
                    // detection needs the tail folded into cellCounts)
                    val next = cur.rebalance(spark, hotFactor, maxCells)
                    h.compactionCount += 1
                    if (next ne cur) {
                      h.update(next)
                      h.rebalanceCount += 1
                      // commits that raced the swap appended through the
                      // OLD handle — their tail files are on disk but
                      // not in the fresh handle's census snapshot; drop
                      // it so the next read re-lists and re-captures
                      next.dropCensus()
                    }
                  } else if (cur.compactTail(spark) > 0L) {
                    h.compactionCount += 1
                  }
                } catch {
                  case e: Throwable =>
                    System.err.println(
                      s"[graft] background index maintenance failed: " +
                        s"${e.getClass.getName}: ${e.getMessage}")
                } finally h.maintBusy = false
              })
              ()
            }
          }
          ()
        }
      }
      .start()
    h.query = q
    h
  }

  /** The ingest replay fence's marker file — see [[runIndexIngest]]. */
  private[graft] object IngestMarker {
    private val Name = "_graft_ingest_commit"
    def read(spark: SparkSession, indexPath: String)
        : Option[(String, Long)] = {
      import org.apache.hadoop.fs.Path
      val f = new Path(indexPath, Name)
      val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        if (!fs.exists(f)) None
        else {
          val in = fs.open(f)
          val text =
            try {
              val bos = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](4096)
              var n = in.read(buf)
              while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
              new String(bos.toByteArray, "UTF-8")
            } finally in.close()
          val p = text.trim.split("\t")
          if (p.length == 3 && p(0) == "graft-ingest-v1")
            Some((p(1), p(2).toLong))
          else None
        }
      } catch { case _: Exception => None } // fail-soft: replay once
    }
    def write(spark: SparkSession, indexPath: String, checkpoint: String,
        batchId: Long): Unit = {
      import org.apache.hadoop.fs.Path
      val dst = new Path(indexPath, Name)
      val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new Path(indexPath, Name + ".tmp")
      val out = fs.create(tmp, true)
      try out.write(
        s"graft-ingest-v1\t$checkpoint\t$batchId".getBytes("UTF-8"))
      finally out.close()
      if (fs.exists(dst)) { fs.delete(dst, false); () }
      require(fs.rename(tmp, dst), s"could not commit ingest marker $dst")
    }
  }

  /** Streaming upserts on the merge-on-read path — the sustained-QPS shape
    * of the reference's write workload (`README.md:69-70`): each micro-batch
    * is a delta append (cost ∝ batch size, so single-object p95 stays flat
    * at any table size); every `compactEvery` commits the accumulated
    * deltas fold into the buckets, and between folds a MINOR compaction
    * merges delta files whenever `consolidateEvery` are live — concurrent
    * readers' merge fan-in stays bounded at O(consolidateEvery) files for
    * O(delta bytes) of extra write per cycle. The minor compaction runs
    * DRIVER-LOCALLY and inline ([[BucketedStore.consolidateDeltasFromRows]]
    * over the rows this path already collected per commit): an in-memory
    * hash-merge plus a driver-side slab write costs less than a commit,
    * and — unlike an async distributed merge, whose concurrent Spark jobs
    * were measured inflating commit latency 3–10× while in flight — it
    * shares nothing with the commit path but the writer thread itself.
    * Only when the buffered rows would exceed `maxCollectRows` does the
    * merge fall back to the async distributed
    * [[BucketedStore.consolidateDeltas]] on a shared background thread;
    * pending async merges drain before a bucket fold.
    *
    * The micro-batch is collected to the driver ONCE and committed from the
    * collected rows: this path's contract is small high-frequency batches
    * (single-object upserts grouped by the trigger), so one collect replaces
    * TWO executions of the batch plan (the emptiness probe + the write job
    * re-computing e.g. the re-embedding), and the delta file is written on
    * the driver by Spark's own parquet writer (the row
    * [[BucketedStore.appendDelta]]). A commit therefore runs exactly one
    * Spark job, the collect, also when it consolidates; only the
    * `compactEvery` bucket fold runs more. Bulk
    * backfills belong on [[BucketedStore.upsert]], which never
    * materializes the batch on the driver.
    *
    * `onCommit(version, rows)` fires after each commit's pointer flip with
    * the rows that just became visible — the hook for measuring per-object
    * visibility latency (arrival → committed), which is the latency a reader
    * actually observes, rather than commit wall-time.
    */
  def runDelta(updates: DataFrame, store: BucketedStore, key: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      compactEvery: Int = 16,
      consolidateEvery: Int = 8,
      maxCollectRows: Int = 100000,
      localMap: Option[(Seq[Row] => Seq[Row], org.apache.spark.sql.types.StructType)] = None,
      onCommit: (Int, Seq[Row]) => Unit = (_, _) => ()): StreamingQuery = {
    // commit counter drives the MAJOR cadence: consolidation resets the
    // live-delta count, so "deltas accumulated" no longer measures work
    // since the last bucket fold — commits do
    var commits = 0
    var pendingMerge: java.util.concurrent.Future[_] = null
    // rows of each not-yet-consolidated delta, kept on the driver (they
    // were collected for the commit anyway): the L0 merge then runs as a
    // driver-local hash-merge + a driver-side slab write — synchronous,
    // bounded, and with NO Spark job at all. The async distributed merge
    // remains only as the fallback when the buffer would outgrow
    // maxCollectRows.
    val recentDeltas =
      scala.collection.mutable.LinkedHashMap[Int, Seq[Row]]()
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // coalesce first: a high-rate source delivers one tiny input block
        // PER OBJECT (memory/rate sources, kafka with small fetches), and a
        // batch that grabbed n queued objects would otherwise schedule n
        // near-empty tasks — measured ~15 ms/task, i.e. seconds of pure
        // scheduling per commit at a few hundred queued objects. Four tasks
        // keep the re-embedding parallel while the scheduling cost stays
        // fixed. The limit caps what ever reaches the driver: a misrouted
        // bulk backfill (> maxCollectRows) falls back to the distributed
        // append below instead of OOMing the driver on collect.
        // commit jobs ride their own scheduler pool: under FAIR mode
        // (GraftSession.defaults) the 1–4-task collect/append jobs get a
        // fair slot share instead of queuing behind a concurrent reader's
        // wide scan (thread-local, so it tags every job this batch runs)
        batch.sparkSession.sparkContext
          .setLocalProperty("spark.scheduler.pool", "graft-commit")
        val collected = batch.coalesce(4).limit(maxCollectRows + 1)
          .collect().toIndexedSeq
        if (collected.size > maxCollectRows) {
          System.err.println(s"[graft] runDelta batch exceeds " +
            s"$maxCollectRows rows — committing via distributed append " +
            s"(route bulk backfills through BucketedStore.upsert)")
          require(localMap.isEmpty,
            "runDelta localMap path is driver-side only; oversized batches " +
              "must arrive pre-transformed (route backfills through " +
              "BucketedStore.upsert)")
          val v = store.appendDelta(batch, key)
          onCommit(v, Seq.empty)
          commits += 1
        } else if (collected.nonEmpty) {
          // the driver-local transform (e.g. the per-object re-embed — the
          // shape of calling an inference endpoint): runs here, on the
          // already-collected rows, so the commit path never executes a
          // Spark job for the transform
          val rows = localMap match {
            case Some((f, _)) => f(collected).toIndexedSeq
            case None => collected
          }
          val outSchema = localMap.map(_._2).getOrElse(batch.schema)
          val spark = batch.sparkSession
          val v = store.appendDelta(spark, outSchema, rows)
          onCommit(v, rows)
          commits += 1
          recentDeltas(v) = rows
          if (compactEvery != Int.MaxValue && commits % compactEvery == 0) {
            // drain any in-flight L0 merge: the fold recomputes the whole
            // delta list and must not interleave with a manifest swap
            if (pendingMerge != null) {
              try pendingMerge.get()
              catch { case _: Exception => () }
              pendingMerge = null
            }
            store.compact(spark, key)
            recentDeltas.clear() // folded into buckets
            ()
          } else if (recentDeltas.size >= consolidateEvery) {
            val total = recentDeltas.valuesIterator.map(_.size).sum
            if (total <= maxCollectRows) {
              // driver-local L0 merge (see consolidateDeltasFromRows):
              // no Spark job, so it runs inline — readers' delta fan-in
              // stays O(consolidateEvery)
              store.consolidateDeltasFromRows(spark, outSchema,
                recentDeltas.toSeq)
              recentDeltas.clear() // merged slab is tiered out by size
            } else if (pendingMerge == null || pendingMerge.isDone) {
              // buffer outgrew the driver budget (bulk-ish batches): fall
              // back to the async distributed merge, at most one in flight
              recentDeltas.clear()
              pendingMerge = consolidator.submit(new Runnable {
                def run(): Unit =
                  try {
                    spark.sparkContext.setLocalProperty(
                      "spark.scheduler.pool", "graft-maintenance")
                    store.consolidateDeltas(spark); ()
                  } catch { case e: Throwable => System.err.println(
                    s"[graft] delta consolidation failed: ${e.getMessage}") }
              })
            }
          }
        }
      }
      .start()
  }
}

/** Streaming duals of the batch event queries: watermarked windowed
  * aggregation (free from Structured Streaming once the batch plan is
  * declarative).
  */
object EventPipeline {

  /** Hourly tumbling-window counts+sums per event type with a watermark for
    * late data — the streaming form of q22_events_hourly.
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("h"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Gap-based sessionization via the built-in `session_window` — the
    * streaming dual of q24_events_sessions. State is managed by Spark's
    * session-window state store; the watermark bounds state size (sessions
    * older than watermark − gap are finalized and evicted).
    */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("sum_value"))
  }

  /** Stream-stream interval join — the streaming dual of q59_range_join:
    * pair each `right` event with every `left` event of the same key whose
    * timestamp falls within `[left.ts, left.ts + window]`.
    *
    * Both sides are watermarked and the join condition carries the time
    * bound, so Spark's symmetric hash join can EVICT state: a left row is
    * dropped from the state store once the right watermark passes
    * `left.ts + window`, and vice versa — state size tracks the interval
    * width × arrival rate, not stream history. Without the range bound in
    * the join condition the state grows unboundedly; this is the shape
    * Structured Streaming requires for stream-stream joins at scale.
    *
    * Inputs must carry (`key`, `ts`, payload); left columns come out
    * prefixed `l_`, right columns `r_`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      window: String, watermark: String = "1 hour"): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_ts", watermark)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_ts", watermark)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"))
  }

  /** Streaming exact dedup — the streaming dual of q30/q31: emit each doc
    * whose normalized-text fingerprint ([[graft.operators.TextAnalysis
    * .fingerprint]]: lowercase, collapsed whitespace, md5) has not been
    * seen before, dropping re-arrivals.
    *
    * State is one tiny (fingerprint → seen) entry per distinct doc,
    * bounded by the watermark TTL via `dropDuplicatesWithinWatermark`:
    * fingerprints older than the watermark are evicted, so state tracks
    * the dedup horizon (e.g. "drop re-crawls within a day"), not stream
    * history — the only state shape that survives an unbounded crawl
    * stream. Exactly-once keyed state is sharded by fingerprint hash
    * across executors; no skew (fingerprints are uniform).
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", graft.operators.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming incremental near-dedup — "dedup the crawl as it arrives":
    * each micro-batch is deduped (exact + MinHash/LSH/Jaccard near) against
    * a signature index of everything accepted so far — the seed corpus plus
    * every earlier batch's survivors — so a re-crawl arriving in batch 40
    * is dropped against its original from batch 2. Survivors are delivered
    * to `onBatch` (already collected; this path's batches are small) and
    * appended to the index.
    *
    * The index ([[graft.operators.Dedup.NearDupIndex]]) never re-derives
    * the corpus side: per batch, only the BATCH's shingles and signatures
    * are computed (O(batch) new work), and the joins are id-anchored so a
    * hot shingle never fans out. The candidate/verify joins stream the
    * stored signature-sized frames once per batch — memory-speed and
    * row-minimal (one array row per rep, r11; the 500k and 5M-doc
    * measurements are bench_history/BENCH_neardup5m_r1{1..4}.json). Index
    * lineage is
    * re-checkpointed every `compactEvery` batches to keep the union plan
    * shallow on long streams. Exactly-once: survivors are decided per
    * micro-batch; a replayed batch re-dedups against an index that may now
    * contain its own earlier survivors, dropping them as duplicates —
    * idempotent delivery for exact re-plays.
    */
  def nearDedupStream(docs: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, checkpoint: String, threshold: Double = 0.7,
      k: Int = 3, numHashes: Int = graft.operators.Dedup.AutoNumHashes,
      rowsPerBand: Int = 2,
      compactEvery: Int = 16, estimatedJaccard: Boolean = false)
      (onBatch: (Long, Array[Row]) => Unit): StreamingQuery = {
    // compacted() pins the index to checkpointed frames regardless of the
    // build's size-adaptive mode: a long-lived stream holder must not
    // re-scan a lazy corpus leaf on every micro-batch, nor observe corpus
    // files changing mid-stream out of sync with the checkpointed parts.
    // estimatedJaccard is the unbounded-stream shape: the index state the
    // stream accretes stays signature-sized forever instead of growing
    // with corpus tokens.
    var idx = graft.operators.Dedup.NearDupIndex.build(
      corpus, textCol, idCol, k, numHashes, rowsPerBand, estimatedJaccard)
      .compacted()
    var batches = 0
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          val survivors = idx.dedupBatch(batch, textCol, threshold)
            .localCheckpoint(true)
          idx = idx.appended(survivors, textCol)
          batches += 1
          if (batches % compactEvery == 0) idx = idx.compacted()
          onBatch(id, survivors.collect())
        }
      }
      .start()
  }

  /** Streaming drift monitor: per micro-batch, the PSI of `valueCol`
    * against a STATIC reference sample ([[graft.operators.Profile.psi]]),
    * delivered to `onBatch` as (batchId, psi, n_ref, n_batch) — the
    * continuous data-quality gate that pages someone when today's stream
    * stops looking like the corpus the models were trained on.
    *
    * foreachBatch is the right boundary: PSI needs the whole micro-batch
    * (an arbitrary-state streaming agg would re-implement the histogram
    * for no benefit), the reference histogram is a tiny static frame, and
    * the per-batch result is one row. Empty batches emit nothing.
    */
  def driftMonitor(stream: DataFrame, reference: DataFrame, valueCol: String,
      bins: Int, lo: Double, hi: Double,
      onBatch: (Long, Double, Long, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        if (!batch.isEmpty) {
          val r = graft.operators.Profile
            .psi(reference, batch, valueCol, bins, lo, hi).head()
          onBatch(id, r.getDouble(0), r.getLong(1), r.getLong(2))
        }
      }
}

/** Custom per-key streaming state via `flatMapGroupsWithState` — the shape
  * to reach for when built-in windows can't express the semantics (here:
  * gap-based sessions that also carry first/last event ids, as a worked
  * example of arbitrary session payloads).
  *
  * State design for scale: one small fixed-size state object per ACTIVE key
  * only — closed sessions are emitted and their state removed via event-time
  * timeout, so state size tracks concurrent activity, not history. The
  * watermark drives both late-data drop and timeout firing.
  */
object StatefulSessions {

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
      value: Double)
  final case class SessionState(start: Long, end: Long, n: Long, sum: Double,
      firstEvent: Long, lastEvent: Long)
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double,
      first_event: Long, last_event: Long)

  /** Micros gap between events that splits a session. */
  def sessionize(events: Dataset[Ev], gapMicros: Long,
      watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._

    def toSession(uid: Long, st: SessionState): Session =
      Session(uid,
        new java.sql.Timestamp(st.start / 1000),
        new java.sql.Timestamp(st.end / 1000),
        st.n, st.sum, st.firstEvent, st.lastEvent)

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed the session's end + gap: close and emit
            val out = state.getOption.map(toSession(uid, _))
            state.remove()
            out.iterator
          } else {
            val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            evs.foreach { e =>
              val t = e.ts.getTime * 1000
              cur match {
                case Some(st) if t - st.end <= gapMicros =>
                  cur = Some(st.copy(
                    end = math.max(st.end, t), n = st.n + 1,
                    sum = st.sum + e.value, lastEvent = e.event_id))
                case Some(st) =>
                  closed ::= toSession(uid, st)
                  cur = Some(SessionState(t, t, 1, e.value, e.event_id, e.event_id))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value, e.event_id, e.event_id))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // fire once the watermark proves no in-gap event can arrive
              state.setTimeoutTimestamp(st.end / 1000 + gapMicros / 1000)
            }
            closed.reverseIterator
          }
      }
  }
}
