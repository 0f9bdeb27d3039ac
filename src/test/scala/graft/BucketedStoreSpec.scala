package graft

import graft.streaming.BucketedStore
import org.apache.spark.sql.functions._

class BucketedStoreSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.Row

  /** The single parquet data file under `dir`. */
  private def dataFile(dir: String): java.io.File = {
    val fs = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
    assert(fs.size == 1, s"expected one parquet file in $dir, got $fs")
    fs.head
  }

  private def footer(f: java.io.File) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toString),
      spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  test("initialize + read round-trips all rows") {
    val root = java.nio.file.Files.createTempDirectory("bstore").toString
    val store = new BucketedStore(root, nBuckets = 4)
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
    store.initialize(df, "k")
    assert(store.currentVersion.contains(0))
    assert(store.read(spark).count() == 100)
  }

  test("preBucketed initialize skips the shuffle and round-trips; upserts still land") {
    val root = java.nio.file.Files.createTempDirectory("bstore_pb").toString
    val store = new BucketedStore(root, nBuckets = 4)
    val df = (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
    // the producing job co-locates rows by the store's own bucket expr
    val preLaid = df.repartition(4, store.bucketExpr("k"))
    store.initialize(preLaid, "k", preBucketed = true)
    assert(store.read(spark).count() == 100)
    store.upsert(Seq((5L, "updated")).toDF("k", "v"), "k")
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(5L) == "updated" && m(6L) == "v6" && m.size == 100)
  }

  test("pre-bucketed init reads identical to shuffle init, same bucket layout") {
    // the bench's store init path: the producing frame's last shuffle keys
    // on the store's bucketExpr, initialize(preBucketed) only sorts within
    // tasks — the resulting store must be indistinguishable from the
    // shuffle path to any reader, down to which bucket holds which key
    val df = (0L until 300L).map(i => (i, s"v$i", i % 7)).toDF("k", "v", "grp")
    val rootA = java.nio.file.Files.createTempDirectory("bstore_eqA").toString
    val rootB = java.nio.file.Files.createTempDirectory("bstore_eqB").toString
    val a = new BucketedStore(rootA, nBuckets = 8)
    a.initialize(df, "k")
    val b = new BucketedStore(rootB, nBuckets = 8)
    b.initialize(df.repartition(8, b.bucketExpr("k")), "k", preBucketed = true)
    def snap(s: BucketedStore) = s.read(spark)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(snap(a) == snap(b))
    // per-bucket key sets match: a reader pruning to one bucket sees the
    // same rows in either store
    def bucketKeys(root: String): Map[String, Set[Long]] =
      new java.io.File(s"$root/v0").listFiles()
        .filter(_.getName.startsWith("b=")).map { d =>
          d.getName -> spark.read.parquet(d.toString)
            .select("k").as[Long].collect().toSet
        }.toMap
    assert(bucketKeys(rootA) == bucketKeys(rootB))
  }

  test("upsert rewrites only touched buckets and preserves the rest") {
    val root = java.nio.file.Files.createTempDirectory("bstore2").toString
    val store = new BucketedStore(root, nBuckets = 8)
    store.initialize((0L until 200L).map(i => (i, "orig")).toDF("k", "v"), "k")
    store.upsert(Seq((5L, "updated"), (999L, "new")).toDF("k", "v"), "k")
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 201)
    assert(m(5L) == "updated" && m(999L) == "new" && m(7L) == "orig")
    // only the touched buckets' dirs exist under v1
    val v1Buckets = new java.io.File(s"$root/v1").listFiles()
      .filter(_.getName.startsWith("b=")).map(_.getName).toSet
    assert(v1Buckets.nonEmpty && v1Buckets.size <= 2,
      s"expected <=2 rewritten buckets, got $v1Buckets")
  }

  test("delta appends merge on read; compaction folds them into buckets") {
    val root = java.nio.file.Files.createTempDirectory("bdelta").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize((0L until 50L).map(i => (i, "orig")).toDF("k", "v"), "k")
    store.appendDelta(Seq((3L, "d1"), (100L, "new")).toDF("k", "v"), "k")
    store.appendDelta(Seq((3L, "d2")).toDF("k", "v"), "k")
    assert(store.liveDeltaCount == 2)
    // merge-on-read: latest delta wins per key, base loses to any delta
    val m1 = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1.size == 51)
    assert(m1(3L) == "d2" && m1(100L) == "new" && m1(4L) == "orig")
    // compaction preserves the merged view and clears deltas
    store.compact(spark, "k")
    assert(store.liveDeltaCount == 0)
    val m2 = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m2 == m1)
  }

  test("bounded compaction folds hot buckets and consolidates the rest") {
    val root = java.nio.file.Files.createTempDirectory("bdelta3").toString
    val store = new BucketedStore(root, nBuckets = 8)
    store.initialize((0L until 80L).map(i => (i, "orig")).toDF("k", "v"), "k")
    // spread updates over many buckets via many distinct keys
    store.appendDelta((0L until 40L).map(i => (i, s"d$i")).toDF("k", "v"), "k")
    store.appendDelta(Seq((200L, "new")).toDF("k", "v"), "k")
    val before = store.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // budget of 2 buckets per cycle: backlog remains but shrinks
    store.compact(spark, "k", maxBuckets = 2)
    assert(store.liveDeltaCount == 1, "leftovers consolidate into one file")
    val mid = store.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(mid == before, "bounded compaction must not change the view")
    // repeated cycles drain the backlog completely
    var guard = 0
    while (store.liveDeltaCount > 0 && guard < 10) {
      store.compact(spark, "k", maxBuckets = 2); guard += 1
    }
    assert(store.liveDeltaCount == 0 && guard < 10)
    val after = store.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before)
  }

  test("split delta tier: deltas land under deltaRoot, merge/compact/vacuum intact") {
    val root = java.nio.file.Files.createTempDirectory("bsplit").toString
    val dtier = java.nio.file.Files.createTempDirectory("bsplit_l0").toString
    val store = new BucketedStore(root, nBuckets = 4, deltaRoot = Some(dtier))
    store.initialize((0L until 50L).map(i => (i, "orig")).toDF("k", "v"), "k")
    store.appendDelta(Seq((3L, "d1"), (100L, "new")).toDF("k", "v"), "k")
    store.appendDelta(Seq((3L, "d2")).toDF("k", "v"), "k")
    // delta files live on the delta tier, not under the bucket root
    assert(new java.io.File(s"$dtier/v1/delta").exists())
    assert(!new java.io.File(s"$root/v1/delta").exists())
    val m1 = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m1.size == 51 && m1(3L) == "d2" && m1(100L) == "new")
    // consolidation stages + swaps on the delta tier
    store.consolidateDeltas(spark)
    assert(store.liveDeltaCount == 1)
    val m2 = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m2 == m1)
    // a fold clears the tier; vacuum reclaims the old versions' delta dirs
    store.compact(spark, "k")
    assert(store.liveDeltaCount == 0)
    val m3 = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m3 == m1)
    store.vacuum()
    assert(!new java.io.File(s"$dtier/v1").exists())
  }

  test("upsert with live deltas folds them and updates win") {
    val root = java.nio.file.Files.createTempDirectory("bdelta2").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    store.appendDelta(Seq((1L, "delta"), (5L, "deltaNew")).toDF("k", "v"), "k")
    store.upsert(Seq((1L, "upsert")).toDF("k", "v"), "k")
    assert(store.liveDeltaCount == 0)
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "upsert", 2L -> "b", 5L -> "deltaNew"))
  }

  test("streaming delta upserts compact at the configured cadence") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("bdstream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bdstream_ck").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize(Seq((1L, "orig")).toDF("k", "v"), "k")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.UpsertStream.runDelta(
      mem.toDF().toDF("k", "v"), store, "k", ckpt, compactEvery = 3)
    (0 until 5).foreach { i =>
      mem.addData((i.toLong + 10, s"s$i"))
      q.processAllAvailable()
    }
    q.stop()
    // 5 appends with compaction at >=3 live deltas → deltas never exceed 3
    assert(store.liveDeltaCount < 3, s"deltas: ${store.liveDeltaCount}")
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 6 && m(12L) == "s2")
  }

  test("reads concurrent with streaming writes see only committed snapshots") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("bconcur").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bconcur_ck").toString
    val store = new BucketedStore(root, nBuckets = 4)
    val baseKeys = (0L until 40L)
    store.initialize(baseKeys.map(i => (i, "orig")).toDF("k", "v"), "k")

    @volatile var readerError: Option[Throwable] = None
    @volatile var running = true
    val reader = new Thread(() => {
      while (running) {
        try {
          val m = store.read(spark).collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
          // consistency: base keys always all present (writes only add or
          // replace), never a torn/partial snapshot
          assert(baseKeys.forall(m.contains), s"missing base keys, saw ${m.size}")
        } catch { case t: Throwable => readerError = Some(t); running = false }
      }
    })
    reader.start()

    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.UpsertStream.runDelta(
      mem.toDF().toDF("k", "v"), store, "k", ckpt, compactEvery = 3)
    (0 until 8).foreach { i =>
      mem.addData((i.toLong % 5, s"u$i"), (100L + i, s"n$i"))
      q.processAllAvailable()
    }
    q.stop()
    running = false
    reader.join(10000)
    readerError.foreach(t => fail(s"concurrent reader failed: $t"))
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 48)
    assert(m(3L) == "u3" && m(107L) == "n7" && m(10L) == "orig")
  }

  test("repeated upserts accumulate versions with correct latest state") {
    val root = java.nio.file.Files.createTempDirectory("bstore3").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    store.upsert(Seq((1L, "a2")).toDF("k", "v"), "k")
    store.upsert(Seq((1L, "a3"), (3L, "c")).toDF("k", "v"), "k")
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "a3", 2L -> "b", 3L -> "c"))
    assert(store.currentVersion.contains(2))
  }

  test("consolidateDeltas merges delta files, latest-per-key survives") {
    val root = java.nio.file.Files.createTempDirectory("bcons").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize((0L until 20L).map(i => (i, "orig")).toDF("k", "v"), "k")
    store.appendDelta(Seq((1L, "d1"), (50L, "n1")).toDF("k", "v"), "k")
    store.appendDelta(Seq((1L, "d2")).toDF("k", "v"), "k")
    store.appendDelta(Seq((2L, "d3"), (51L, "n2")).toDF("k", "v"), "k")
    assert(store.liveDeltaCount == 3)
    store.consolidateDeltas(spark)
    assert(store.liveDeltaCount == 1)
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "d2" && m(2L) == "d3" && m(50L) == "n1" && m(51L) == "n2")
    assert(m(5L) == "orig" && m.size == 22)
    // later deltas still win over the consolidated file
    store.appendDelta(Seq((1L, "d4")).toDF("k", "v"), "k")
    assert(store.read(spark).filter(col("k") === 1L).head().getString(1) == "d4")
  }

  test("consolidateDeltasFromRows: driver-local merge matches distributed semantics") {
    val root = java.nio.file.Files.createTempDirectory("blocal").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize((0L until 20L).map(i => (i, "orig")).toDF("k", "v"), "k")
    val b1 = Seq((1L, "d1"), (50L, "n1"))
    val b2 = Seq((1L, "d2"))
    val b3 = Seq((2L, "d3"), (51L, "n2"))
    val v1 = store.appendDelta(b1.toDF("k", "v"), "k")
    val v2 = store.appendDelta(b2.toDF("k", "v"), "k")
    val v3 = store.appendDelta(b3.toDF("k", "v"), "k")
    assert(store.liveDeltaCount == 3)
    val schema = Seq((0L, "x")).toDF("k", "v").schema
    def rows(b: Seq[(Long, String)]) =
      b.map(t => org.apache.spark.sql.Row(t._1, t._2))
    store.consolidateDeltasFromRows(spark, schema,
      Seq(v1 -> rows(b1), v2 -> rows(b2), v3 -> rows(b3)))
    assert(store.liveDeltaCount == 1)
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "d2" && m(2L) == "d3" && m(50L) == "n1" && m(51L) == "n2")
    assert(m(5L) == "orig" && m.size == 22)
    // a delta landing AFTER the capture set still wins over the slab
    store.appendDelta(Seq((1L, "d4")).toDF("k", "v"), "k")
    assert(store.read(spark).filter(col("k") === 1L).head().getString(1) == "d4")
    // a captured version that is no longer live aborts without a swap
    val vBefore = store.currentVersion.get
    val unchanged = store.consolidateDeltasFromRows(spark, schema,
      Seq(v1 -> rows(b1), v2 -> rows(b2)))
    assert(unchanged == vBefore && store.currentVersion.contains(vBefore))
  }

  test("consolidation concurrent with an appender loses nothing, latest wins") {
    val root = java.nio.file.Files.createTempDirectory("bconc").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize((0L until 10L).map(i => (i, "orig")).toDF("k", "v"), "k")
    @volatile var failure: Option[Throwable] = None
    val appender = new Thread(() => {
      try (0 until 30).foreach { i =>
        store.appendDelta(
          Seq((i.toLong % 7, s"u$i"), (100L + i, s"n$i")).toDF("k", "v"), "k")
      } catch { case t: Throwable => failure = Some(t) }
    })
    appender.start()
    // hammer L0 merges while appends land: capture/write/swap must never
    // drop a delta appended between the capture and the swap
    while (appender.isAlive) store.consolidateDeltas(spark)
    appender.join()
    store.consolidateDeltas(spark)
    failure.foreach(t => fail(s"appender failed: $t"))
    assert(store.liveDeltaCount <= 2)
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 40, s"expected 10 base + 30 new keys, got ${m.size}")
    assert(m(0L) == "u28" && m(1L) == "u29" && m(6L) == "u27")
    assert(m(129L) == "n29" && m(9L) == "orig")
  }

  test("time travel reconstructs every committed version exactly") {
    val root = java.nio.file.Files.createTempDirectory("btt").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    store.upsert(Seq((1L, "a2")).toDF("k", "v"), "k")
    store.appendDelta(Seq((2L, "b2"), (5L, "e")).toDF("k", "v"), "k")
    assert(store.versions == Seq(0, 1, 2))
    def at(v: Int) = store.readVersion(spark, v).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(at(0) == Map(1L -> "a", 2L -> "b"))
    assert(at(1) == Map(1L -> "a2", 2L -> "b"))
    assert(at(2) == Map(1L -> "a2", 2L -> "b2", 5L -> "e"))
    intercept[IllegalArgumentException](store.readVersion(spark, 9))
  }

  test("point lookup reads one bucket + deltas and sees the latest row") {
    val root = java.nio.file.Files.createTempDirectory("blk").toString
    val store = new BucketedStore(root, nBuckets = 8)
    store.initialize((0L until 64L).map(i => (i, s"v$i")).toDF("k", "v"), "k")
    def look(k: Long) = store.lookup(spark, k).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(look(7L) == Seq((7L, "v7")))
    store.appendDelta(Seq((7L, "d7"), (200L, "new")).toDF("k", "v"), "k")
    assert(look(7L) == Seq((7L, "d7")))   // delta beats base
    assert(look(200L) == Seq((200L, "new"))) // delta-only key
    assert(look(999L).isEmpty)
    store.compact(spark, "k")
    assert(look(7L) == Seq((7L, "d7")))   // survives compaction
    // a differently-typed key value must hash to the same bucket as the
    // write path (xxhash64 is type-dependent; the lookup casts first)
    val viaInt = store.lookup(spark, 9).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaInt == Seq((9L, "v9")))
  }

  test("vacuum drops unreferenced versions, keeps live bucket owners") {
    val root = java.nio.file.Files.createTempDirectory("bvac").toString
    val store = new BucketedStore(root, nBuckets = 8)
    store.initialize((0L until 64L).map(i => (i, "orig")).toDF("k", "v"), "k")
    store.upsert(Seq((1L, "u1")).toDF("k", "v"), "k")   // v1 rewrites 1 bucket
    store.upsert(Seq((2L, "u2")).toDF("k", "v"), "k")   // v2 rewrites 1 bucket
    store.upsert(Seq((1L, "u3")).toDF("k", "v"), "k")   // v3 re-rewrites 1's bucket
    val dropped = store.vacuum(keepLast = 1)
    // v0 still owns most buckets → survives; v1's bucket was re-owned by
    // v3 → v1 is collectible; v2 survives unless key 2 shares key 1's
    // bucket (hash-dependent), in which case it was re-owned too
    assert(dropped.contains(1) && !dropped.contains(0) && !dropped.contains(3))
    assert(store.versions.head == 0 && store.versions.last == 3)
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "u3" && m(2L) == "u2" && m(5L) == "orig" && m.size == 64)
    intercept[IllegalArgumentException](store.readVersion(spark, 1))
  }

  // ---- driver-written deltas and slabs -----------------------------------

  private val vdims = 4
  private def evec(i: Long): Seq[Float] =
    Seq.tabulate(vdims)(d => if (d == 0) i.toFloat else 1.0f / (d + i % 5 + 1))
  private val eq: Array[Float] = Array(1f, 0f, 0f, 0f)
  private def erow(i: Long, v: String) = Row(i, v, evec(i))
  private val eschema = Seq((0L, "x", Seq(0f))).toDF("k", "v", "embedding").schema

  /** A 40-row store keyed on `k`, and the model of its contents. */
  private def vecStore(prefix: String) = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    val store = new BucketedStore(root, nBuckets = 4)
    val model = scala.collection.mutable.Map[Long, String]()
    (0L until 40L).foreach(i => model(i) = "orig")
    store.initialize(spark.createDataFrame(
      java.util.Arrays.asList((0L until 40L).map(erow(_, "orig")): _*), eschema), "k")
    (root, store, model)
  }

  /** read, lookup and a prepared top-k all agree with `model`. */
  private def assertModel(store: BucketedStore,
      model: scala.collection.Map[Long, String],
      prepared: BucketedStore#PreparedTopK): Unit = {
    val got = store.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == model)
    Seq(0L, 3L, 17L, 39L, 100L, 999L).foreach { k =>
      val rows = store.lookup(spark, k).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      assert(rows == model.get(k).map(k -> _).toSeq, s"lookup($k)")
    }
    // the model's top-5: score = k (evec's first dim, query e0)
    val want = model.keys.toSeq.sortBy(-_).take(5).map(k => (k, k.toDouble))
    val have = prepared.read().map(r =>
      (r.getLong(0), r.get(1).asInstanceOf[Number].doubleValue())).toSeq
    assert(have == want)
    val full = graft.operators.VectorSearch.topK(store.read(spark),
      "embedding", eq, 5, None, Seq("k")).collect()
      .map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].doubleValue())).toSeq
    assert(have == full)
  }

  test("row and DataFrame appends write the same delta file") {
    val base = Seq((0L, "a", Seq(0f, 1f))).toDF("k", "v", "embedding")
    val batch = Seq((1L, "x", Seq(1f, 2f)), (2L, null, Seq(3f, 4f)),
      (3L, "z", Seq(5f, 6f))).toDF("k", "v", "embedding")
    val rows = batch.collect().toSeq
    def store(prefix: String) = {
      val s = new BucketedStore(
        java.nio.file.Files.createTempDirectory(prefix).toString, nBuckets = 2)
      s.initialize(base, "k")
      s
    }
    val viaDf = store("bpar_df")
    val viaRows = store("bpar_rows")
    assert(viaDf.appendDelta(batch, "k") == 1)
    assert(viaRows.appendDelta(spark, batch.schema, rows) == 1)
    val (dfDir, rowDir) = (s"${viaDf.root}/v1/delta", s"${viaRows.root}/v1/delta")
    val (a, b) = (spark.read.parquet(dfDir), spark.read.parquet(rowDir))
    assert(a.schema == b.schema)
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(sorted(a) == sorted(b))
    assert(sorted(b).map(_._4).distinct == Seq(1L))
    val (fa, fb) = (dataFile(dfDir), dataFile(rowDir))
    assert(fb.getName.matches(
      "part-00000-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}-c000\\.snappy\\.parquet"),
      fb.getName)
    val (ma, mb) = (footer(fa), footer(fb))
    def codecs(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) = {
      import scala.jdk.CollectionConverters._
      m.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    }
    assert(codecs(ma) == codecs(mb) && codecs(mb).size == 1)
    val key = "org.apache.spark.sql.parquet.row.metadata"
    val (ka, kb) = (ma.getFileMetaData.getKeyValueMetaData,
      mb.getFileMetaData.getKeyValueMetaData)
    assert(ka.get(key) != null && ka.get(key) == kb.get(key))
    // the parquet schema too: __seq is a required (non-null) int64
    assert(ma.getFileMetaData.getSchema == mb.getFileMetaData.getSchema)
    assert(mb.getFileMetaData.getSchema.getFields.get(3).getRepetition ==
      org.apache.parquet.schema.Type.Repetition.REQUIRED)
  }

  test("Bridge.readParquetFile reads every delta shape as a Spark read does") {
    import org.apache.spark.sql.graft.Bridge
    val root = java.nio.file.Files.createTempDirectory("bread").toString
    val store = new BucketedStore(root, nBuckets = 4)
    val schema = Seq((0L, "a", 0.5, Seq(0f, 1f))).toDF("k", "v", "w", "embedding").schema
    store.initialize(spark.createDataFrame(
      java.util.List.of(Row(0L, "a", 0.5, Seq(0f, 1f))), schema), "k")
    def batch(ks: Seq[Long]) = ks.map(i => Row(i, if (i % 3 == 0) null else s"v$i",
      i * 0.25, Seq(i.toFloat, -i.toFloat)))
    val (b1, b2) = (batch(1L to 6L), batch(4L to 9L))
    val v1 = store.appendDelta(spark, schema, b1)
    val v2 = store.appendDelta(spark, schema, b2)
    val slab = store.consolidateDeltasFromRows(spark, schema, Seq(v1 -> b1, v2 -> b2))
    val df1 = store.appendDelta(spark.createDataFrame(
      java.util.List.of(batch(10L to 20L): _*), schema), "k")
    // job-written dirs, with the _SUCCESS marker the session turns off:
    // the distributed L0 merge, not coalesced (a part file per shuffle
    // partition), and a bounded fold's leftover delta (coalesce(1) write)
    val success = "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "true"
    val merged = withConf(success,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      store.consolidateDeltas(spark)
    }
    store.appendDelta(spark, schema, batch(30L to 45L))
    val leftover = withConf(success)(store.compact(spark, "k", maxBuckets = 1))
    val s = schema.add("__seq", org.apache.spark.sql.types.LongType)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(s)
    // each value with its class (array elements too): 1L == 1 in Scala
    def typed(r: Row): Seq[Any] = r.toSeq.map {
      case null => null
      case a: scala.collection.Seq[_] => a.toSeq.map(e => (e, e.getClass))
      case x => (x, x.getClass)
    }
    def dir(v: Int) = s"$root/v$v/delta"
    val names = (v: Int) => new java.io.File(dir(v)).list().toSeq
    assert(names(merged).count(_.startsWith("part-")) > 1, names(merged))
    Seq(merged, leftover).foreach { v =>
      assert(names(v).contains("_SUCCESS") && names(v).exists(_.endsWith(".crc")),
        names(v))
    }
    Seq(v1, v2, slab, df1, merged, leftover).foreach { v =>
      val got = Bridge.readParquetFile(spark, s, dir(v))
        .map(r => typed(toRow(r).asInstanceOf[Row])).toSeq
      val want = spark.read.schema(s).parquet(dir(v)).collect().map(typed).toSeq
      assert(got.nonEmpty && got.sortBy(_.toString) == want.sortBy(_.toString), s"v$v")
    }
    // a directory that does not exist reads as no rows
    assert(Bridge.readParquetFile(spark, s, s"$root/none").isEmpty)
  }

  test("runDelta: one job per commit, the collect, also when it consolidates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("bjobs").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bjobs_ck").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize((0L until 20L).map(i => (i, "orig")).toDF("k", "v"), "k")
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.UpsertStream.runDelta(
      mem.toDF().toDF("k", "v"), store, "k", ckpt,
      compactEvery = Int.MaxValue, consolidateEvery = 3)
    try {
      val perCommit = (0 until 4).map { i =>
        jobsDuring {
          mem.addData((i.toLong, s"u$i"), (100L + i, s"n$i"))
          q.processAllAvailable()
        }._2
      }
      // commit 3 ran the L0 merge: three deltas became one slab
      assert(store.liveDeltaCount == 2)
      assert(perCommit == Seq(1, 1, 1, 1), perCommit)
    } finally q.stop()
    val m = store.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 24 && m(2L) == "u2" && m(103L) == "n3" && m(7L) == "orig")
  }

  test("lookup runs only its read jobs") {
    val root = java.nio.file.Files.createTempDirectory("blkjobs").toString
    val store = new BucketedStore(root, nBuckets = 4)
    store.initialize((0L until 200L).map(i => (i, s"v$i")).toDF("k", "v"), "k")
    store.appendDelta(Seq((7L, "d7"), (300L, "new")).toDF("k", "v"), "k")
    store.read(spark) // the cached base relation of this manifest
    val (rows, jobs) = jobsDuring(store.lookup(spark, 7L).collect())
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((7L, "d7")))
    // the merge plan's own stages (delta window exchange, broadcast, the
    // result); no footer inference, no hash job, no emptiness probe
    assert(jobs == 4, s"lookup ran $jobs jobs")
  }

  test("fault: a crashed commit's truncated delta is replaced by the next append") {
    val (root, store, model) = vecStore("bcrash")
    val prepared = store.prepareTopK(spark, "embedding", eq, 5,
      projection = Seq("k"))
    prepared.read()
    assert(store.appendDelta(spark, eschema, Seq(erow(3L, "d3"), erow(50L, "n50"))) == 1)
    model(3L) = "d3"; model(50L) = "n50"
    // a crash mid-write at v2: a truncated data file, _CURRENT not flipped
    val good = dataFile(s"$root/v1/delta")
    val crashed = java.nio.file.Paths.get(root, "v2", "delta", good.getName)
    java.nio.file.Files.createDirectories(crashed.getParent)
    val bytes = java.nio.file.Files.readAllBytes(good.toPath)
    java.nio.file.Files.write(crashed, bytes.take(bytes.length / 2))
    assert(store.currentVersion.contains(1))
    assert(store.appendDelta(spark, eschema, Seq(erow(17L, "d17"), erow(60L, "n60"))) == 2)
    model(17L) = "d17"; model(60L) = "n60"
    assert(!java.nio.file.Files.exists(crashed))
    assertModel(store, model, prepared)
  }

  test("fault: a write that throws mid-file leaves _CURRENT, the next commit lands") {
    val (root, store, model) = vecStore("bthrow")
    val prepared = store.prepareTopK(spark, "embedding", eq, 5,
      projection = Seq("k"))
    prepared.read()
    // the second row's key is not a long: the writer throws after row one
    intercept[Exception](store.appendDelta(spark, eschema,
      Seq(erow(5L, "bad5"), Row("nope", "bad", evec(1L)))))
    assert(store.currentVersion.contains(0) && store.liveDeltaCount == 0)
    assert(store.appendDelta(spark, eschema, Seq(erow(39L, "d39"), erow(70L, "n70"))) == 1)
    model(39L) = "d39"; model(70L) = "n70"
    assertModel(store, model, prepared)
  }

  test("fault: a slab write that fails leaves no staging dir and no swap") {
    val (root, store, model) = vecStore("bslab")
    val prepared = store.prepareTopK(spark, "embedding", eq, 5,
      projection = Seq("k"))
    val b1 = Seq(erow(1L, "d1"), erow(80L, "n80"))
    val b2 = Seq(erow(2L, "d2"))
    val v1 = store.appendDelta(spark, eschema, b1)
    val v2 = store.appendDelta(spark, eschema, b2)
    model(1L) = "d1"; model(80L) = "n80"; model(2L) = "d2"
    intercept[Exception](store.consolidateDeltasFromRows(spark, eschema,
      Seq(v1 -> b1, v2 -> (b2 :+ Row(3L, "bad", "not a vector")))))
    assert(!new java.io.File(root).list().exists(_.startsWith(".stage-")))
    assert(store.currentVersion.contains(v2) && store.liveDeltaCount == 2)
    assertModel(store, model, prepared)
    // the same merge with good rows swaps in one slab
    assert(store.consolidateDeltasFromRows(spark, eschema,
      Seq(v1 -> b1, v2 -> b2)) == v2 + 1)
    assert(store.liveDeltaCount == 1)
    assertModel(store, model, prepared)
  }
}
