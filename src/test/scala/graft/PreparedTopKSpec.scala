package graft

import graft.operators.VectorSearch
import graft.streaming.BucketedStore
import org.apache.spark.sql.functions._

/** Exactness of the snapshot-prepared top-k serving read
  * (BucketedStore.PreparedTopK) against the full merged-store scan, across
  * the delta lifecycle: fresh store, new-key deltas, displacing updates,
  * filter-failing updates, displacement overflow (fallback), bucket folds
  * (cache re-prime from the rewritten buckets) — and what each read costs:
  * no Spark job on the fast path, only the rewritten buckets after a fold.
  */
class PreparedTopKSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8

  /** Deterministic tie-free vectors: v(i) has score i·q₀ against q. */
  private def vec(i: Long, scale: Float = 1e-4f): Seq[Float] =
    Seq.tabulate(dims)(d =>
      if (d == 0) i * scale else 1.0f / (d + math.floorMod(i, 7) + 1))

  private def mkStore(n: Long): BucketedStore = {
    val root = java.nio.file.Files.createTempDirectory("ptk").toString
    val store = new BucketedStore(root, nBuckets = 4)
    val df = (0L until n).map(i => (s"k$i", i % 5, vec(i)))
      .toDF("id", "grp", "embedding")
    store.initialize(df, "id")
    store
  }

  private val q: Array[Float] = Array.tabulate(dims)(d => if (d == 0) 1f else 0f)

  private def full(store: BucketedStore,
      filter: Option[org.apache.spark.sql.Column]): Seq[(String, Double)] =
    VectorSearch.topK(store.read(spark), "embedding", q, 10, filter,
      Seq("id")).collect()
      .map(r => (r.getString(0), r.get(1).asInstanceOf[Number].doubleValue()))
      .toSeq

  private def served(pq: BucketedStore#PreparedTopK): Seq[(String, Double)] =
    pq.read().map(r =>
      (r.getString(0), r.get(1).asInstanceOf[Number].doubleValue())).toSeq

  private def rowsOf(ids: Seq[(String, Long)]): Seq[org.apache.spark.sql.Row] =
    ids.map { case (id, i) => org.apache.spark.sql.Row(id, i % 5, vec(i)) }

  private lazy val schema =
    Seq(("k", 0L, vec(0))).toDF("id", "grp", "embedding").schema

  /** Bucket → owning version of the store's current manifest. */
  private def owners(store: BucketedStore): Map[Int, Int] =
    java.nio.file.Files.readString(java.nio.file.Paths.get(store.root,
        s"v${store.currentVersion.get}", "manifest.tsv"))
      .linesIterator.filter(l => l.nonEmpty && !l.startsWith("D\t")).map { l =>
        val Array(b, o) = l.split("\t"); b.toInt -> o.toInt
      }.toMap

  /** Rows in the bucket dirs a change from `before` to the current
    * manifest rewrote, and in the whole current base.
    */
  private def rewrittenRows(store: BucketedStore, before: Map[Int, Int]): (Long, Long) = {
    val now = owners(store)
    def rows(bs: Iterable[Int]) = spark.read.parquet(
      bs.toSeq.map(b => s"${store.root}/v${now(b)}/b=$b"): _*).count()
    (rows(now.keys.filter(b => before(b) != now(b))), rows(now.keys))
  }

  /** `f`'s result and the input records its Spark tasks read. */
  private def recordsReadDuring[T](f: => T): (T, Long) = {
    val n = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Keys `k<i>` of `ids` by the store's bucket of each. */
  private def bucketsOf(store: BucketedStore, ids: Seq[Long]): Map[Long, Int] =
    ids.map(i => (s"k$i", i)).toDF("id", "i")
      .select(col("i"), store.bucketExpr("id")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("no deltas: prepared read equals the full scan") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"))
    assert(served(pq) == full(store, None))
    assert(pq.fastReadCount == 1 && pq.fallbackReadCount == 0)
  }

  test("new-key deltas enter the top-k without rescanning the base") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"))
    served(pq) // prime the base cache
    // two new keys that outscore everything, one that scores below
    store.appendDelta(Seq(("n1", 1, vec(500)), ("n2", 2, vec(400)),
      ("n3", 3, vec(-50))).toDF("id", "grp", "embedding"), "id")
    val got = served(pq)
    assert(got == full(store, None))
    assert(got.take(2).map(_._1) == Seq("n1", "n2"))
    assert(pq.fallbackReadCount == 0)
  }

  test("updates displace their base rows even when the update scores lower") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"))
    served(pq)
    // k199 was the best base row; its update drops it far down
    store.appendDelta(Seq(("k199", 0, vec(-100)))
      .toDF("id", "grp", "embedding"), "id")
    val got = served(pq)
    assert(got == full(store, None))
    assert(!got.map(_._1).contains("k199"))
    // a second update restores it to the top (latest __seq wins)
    store.appendDelta(Seq(("k199", 0, vec(999)))
      .toDF("id", "grp", "embedding"), "id")
    val got2 = served(pq)
    assert(got2 == full(store, None))
    assert(got2.head._1 == "k199")
    assert(pq.fallbackReadCount == 0)
  }

  test("a delta failing the filter still displaces its base row") {
    val store = mkStore(200)
    val filt = Some(col("grp") < 4)
    val pq = store.prepareTopK(spark, "embedding", q, 10, filt,
      projection = Seq("id"))
    served(pq)
    // k198 (grp 3) passes the filter in the base; its update moves it to
    // grp 4 — it must vanish from the filtered top-k even though the
    // update itself never matches the filter
    store.appendDelta(Seq(("k198", 4, vec(198)))
      .toDF("id", "grp", "embedding"), "id")
    val got = served(pq)
    assert(got == full(store, filt))
    assert(!got.map(_._1).contains("k198"))
    assert(pq.fallbackReadCount == 0)
  }

  test("displacement past the slack budget falls back to the full scan, still exact") {
    val store = mkStore(60)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"), slack = 2)
    // complete-base case first: 60 rows < 10+2 is false, cache holds 12
    served(pq)
    // update the top 5 cached rows downward: 12 − 5 = 7 survivors < k=10
    store.appendDelta((55L until 60L).map(i => (s"k$i", 0, vec(-i)))
      .toDF("id", "grp", "embedding"), "id")
    val got = pq.read().map(_.getString(0)).toSeq
    val want = VectorSearch.topK(store.read(spark), "embedding", q, 10,
      projection = Seq("id")).collect().map(_.getString(0)).toSeq
    assert(got == want)
    assert(pq.fallbackReadCount == 1)
  }

  test("cache holding the complete filtered base never falls back") {
    val store = mkStore(60)
    // only 12 rows have grp == 0 — fewer than k+slack, cache is complete
    val filt = Some(col("grp") === 0)
    val pq = store.prepareTopK(spark, "embedding", q, 10, filt, Seq("id"),
      slack = 40)
    served(pq)
    store.appendDelta((0L until 12L).map(i => (s"k${i * 5}", 0, vec(-i)))
      .toDF("id", "grp", "embedding"), "id")
    assert(served(pq) == full(store, filt))
    assert(pq.fallbackReadCount == 0)
  }

  test("delta volume past the cache guard serves distributed, still exact") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"), deltaCacheRows = 5)
    served(pq)
    // a 10-row delta exceeds the 5-row guard: never cached, every read
    // runs the distributed merge — counted as fallback, exact regardless
    store.appendDelta((0L until 10L).map(i => (s"n$i", 1, vec(300 + i)))
      .toDF("id", "grp", "embedding"), "id")
    assert(served(pq) == full(store, None))
    assert(served(pq) == full(store, None))
    assert(pq.fallbackReadCount == 2 && pq.fastReadCount == 1)
  }

  test("small deltas after an oversized one are still admitted; consolidation restores the fast path") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"), deltaCacheRows = 5)
    served(pq)
    // bulk backfill past the guard, then a normal small commit
    store.appendDelta((0L until 10L).map(i => (s"n$i", 1, vec(300 + i)))
      .toDF("id", "grp", "embedding"), "id")
    store.appendDelta(Seq(("s0", 1, vec(400L))).toDF("id", "grp", "embedding"),
      "id")
    // oversized delta live → distributed merge, exact; the small delta is
    // admitted to the cache regardless
    assert(served(pq) == full(store, None))
    assert(pq.fallbackReadCount == 1)
    // consolidating folds the oversized slab away; the consolidated slab
    // exceeds the tiny guard too, so force a bucket fold instead: deltas
    // clear entirely and reads serve fast again
    store.compact(spark, "id")
    assert(served(pq) == full(store, None))
    assert(pq.fallbackReadCount == 1 && pq.fastReadCount >= 2)
  }

  test("bucket fold refreshes the cache and stays exact") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"))
    served(pq)
    store.appendDelta(Seq(("n9", 1, vec(300))).toDF("id", "grp", "embedding"),
      "id")
    store.compact(spark, "id") // folds deltas into buckets: new manifest
    val got = served(pq)
    assert(got == full(store, None))
    assert(got.head._1 == "n9")
  }

  test("a fast read runs no Spark job after row, slab and DataFrame deltas") {
    val store = mkStore(200)
    val filt = Some(col("grp") < 4)
    val pq = store.prepareTopK(spark, "embedding", q, 10, filt,
      projection = Seq("id"))
    served(pq) // primes the base cache: the one scan
    def readsJobless(): Unit = {
      val (got, jobs) = jobsDuring(served(pq))
      assert(jobs == 0)
      assert(got == full(store, filt))
    }
    // row commits: a new top key, and an update that leaves the filter
    val b1 = rowsOf(Seq("n1" -> 500L, "k198" -> 4L))
    val v1 = store.appendDelta(spark, schema, b1)
    readsJobless()
    val b2 = rowsOf(Seq("n2" -> 600L, "n1" -> 3L))
    val v2 = store.appendDelta(spark, schema, b2)
    readsJobless()
    // an L0 slab replaces both
    store.consolidateDeltasFromRows(spark, schema, Seq(v1 -> b1, v2 -> b2))
    readsJobless()
    // a delta written by a Spark job (part file + _SUCCESS + checksums)
    store.appendDelta(Seq(("n3", 1L, vec(700)), ("k197", 2L, vec(-3)))
      .toDF("id", "grp", "embedding"), "id")
    readsJobless()
    assert(served(pq).head._1 == "n3")
    // each delta row was decoded once: 2 + 2 + the 3-row slab + 2
    assert(pq.driverDecodedRows == 9)
    assert(pq.fallbackReadCount == 0)
  }

  test("an over-budget delta serves distributed, exact, never decoded on the driver") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"), deltaCacheRows = 5)
    served(pq)
    store.appendDelta(spark, schema, rowsOf((0L until 10L).map(i => s"n$i" -> (300 + i))))
    assert(served(pq) == full(store, None))
    assert(pq.driverDecodedRows == 0 && pq.fallbackReadCount == 1)
    // a small commit after it is decoded and admitted; the big one never is
    store.appendDelta(spark, schema, rowsOf(Seq("s0" -> 900L)))
    val (got, jobs) = jobsDuring(served(pq))
    assert(got == full(store, None) && got.head._1 == "s0")
    assert(jobs > 0 && pq.driverDecodedRows == 1 && pq.fallbackReadCount == 2)
  }

  test("a filter only a plan can run scores deltas by the job, still exact") {
    val store = mkStore(200)
    val filt = Some(expr("grp <= (SELECT 3)")) // a scalar subquery
    val pq = store.prepareTopK(spark, "embedding", q, 10, filt,
      projection = Seq("id"))
    served(pq)
    store.appendDelta(spark, schema, rowsOf(Seq("n1" -> 501L, "k198" -> 4L)))
    val got = served(pq)
    assert(got == full(store, filt) && got.head._1 == "n1")
    assert(pq.driverDecodedRows == 0 && pq.fallbackReadCount == 1)
  }

  test("a fold re-primes a complete cache from the rewritten buckets only") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id")) // 200 rows < k + slack: the cache is complete
    served(pq)
    val before = owners(store)
    store.appendDelta(spark, schema, rowsOf(
      Seq("n1" -> 500L, "n2" -> 450L, "k199" -> -5L, "k150" -> 480L, "n3" -> 1L)))
    served(pq)
    store.compact(spark, "id", maxBuckets = 1) // one bucket; the rest stays delta
    val (rewritten, total) = rewrittenRows(store, before)
    val (got, read) = recordsReadDuring(served(pq))
    assert(got == full(store, None))
    assert(read == rewritten && rewritten < total, s"$read of $total")
  }

  test("a fold re-primes an incomplete cache; the rewritten bucket holds the new top") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"), slack = 5) // k + slack = 15 of 200 rows
    served(pq)
    val before = owners(store)
    // three new keys in one bucket outscore everything; one elsewhere
    val byBucket = bucketsOf(store, 1000L until 1040L)
    val hot = byBucket.values.head
    val top = byBucket.collect { case (i, b) if b == hot => i }.toSeq.sorted.take(3)
    val cold = byBucket.collect { case (i, b) if b != hot => i }.head
    store.appendDelta(spark, schema, rowsOf(
      top.map(i => s"k$i" -> (i - 500)) :+ (s"k$cold" -> 150L)))
    store.compact(spark, "id", maxBuckets = 1)
    assert(owners(store)(hot) != before(hot))
    val (rewritten, total) = rewrittenRows(store, before)
    val (got, read) = recordsReadDuring(served(pq))
    assert(got == full(store, None))
    assert(got.take(3).map(_._1).toSet == top.map(i => s"k$i").toSet)
    assert(read == rewritten && rewritten < total, s"$read of $total")
    assert(pq.fallbackReadCount == 0)
  }

  test("a fold that cuts the cache below k re-primes from the whole base") {
    val store = mkStore(200)
    val pq = store.prepareTopK(spark, "embedding", q, 10,
      projection = Seq("id"), slack = 2) // caches the top 12: k188..k199
    served(pq)
    // the bucket holding most of the cache (>= 3 of 12 by pigeonhole):
    // drop those rows far down, so fewer than k of the cache survive
    val inCache = bucketsOf(store, 188L until 200L)
    val ids = inCache.groupBy(_._2).values.maxBy(_.size).keys.toSeq
    assert(ids.size >= 3)
    val before = owners(store)
    store.appendDelta(spark, schema, rowsOf(ids.map(i => s"k$i" -> -i)))
    store.compact(spark, "id") // the deltas lie in that one bucket
    val (rewritten, total) = rewrittenRows(store, before)
    val (got, read) = recordsReadDuring(served(pq))
    assert(got == full(store, None))
    // the rewritten bucket's scan, then the whole base's
    assert(read == rewritten + total && total == 200, s"$read: $rewritten + $total")
    assert(pq.fallbackReadCount == 0)
  }
}
