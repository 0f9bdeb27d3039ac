package graft

import graft.operators.VectorSearch
import graft.streaming.UpsertStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The r16 streaming ANN-ingest contract (UpsertStream.runIndexIngest):
  * micro-batches append into an IvfIndex at O(batch) cost, searches see
  * them at micro-batch latency, and a skewed stream is healed by the
  * inline rebalance cadence — the handle swap that makes the ingest a
  * self-maintaining index, not just a file appender.
  */
class StreamingIndexIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  private def mkData(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq(
      Array.fill(dims)(5.0f), Array.fill(dims)(-5.0f),
      Array.tabulate(dims)(i => if (i % 2 == 0) 5.0f else -5.0f),
      Array.tabulate(dims)(i => if (i % 3 == 0) -5.0f else 5.0f))
    (0 until n).map { i =>
      val c = centers(i % centers.length)
      (i.toLong, i % 3, c.map(v => v + rnd.nextFloat() - 0.5f))
    }
  }

  private def skewRows(n: Int, from: Long, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (from + i, i % 3,
        Array.fill(dims)(5.0f).map(v => v + rnd.nextFloat() - 0.5f))
    }
  }

  private def bruteTopK(q: Array[Float], k: Int, dir: String)
      : Seq[(Long, Double)] =
    spark.read.parquet(dir).select(col("vec_id"), col("__vec")).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i).toDouble * q(i); i += 1 }
        (r.getLong(0), acc)
      }.sortBy(t => (-t._2, t._1)).take(k).toSeq

  test("micro-batches append; searches see them at batch latency") {
    val dir = java.nio.file.Files.createTempDirectory("ingest_basic").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt").toString
    val base = mkData(200, 3)
    val ivf = VectorSearch.buildIvf(
      base.toDF("vec_id", "cat", "embedding"), "embedding", 4,
      s"$dir/ivf", sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Array[Float])]
    val ingest = UpsertStream.runIndexIngest(
      mem.toDF().toDF("vec_id", "cat", "embedding"), ivf, "embedding",
      ckpt)
    try {
      mem.addData(mkData(50, 5).map { case (id, c, v) => (id + 1000L, c, v) }: _*)
      ingest.processAllAvailable()
      assert(ingest.commits == 1)
      assert(spark.read.parquet(s"$dir/ivf").count() == 250L)
      val q = base(7)._3
      val got = ingest.index.search(spark, q, 20, nprobe = 4)
        .select(col("vec_id"), col("score")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(t => (-t._2, t._1)).toSeq
      assert(got == bruteTopK(q, 20, s"$dir/ivf"))
      // second batch: still one handle, still exact
      mem.addData(mkData(30, 7).map { case (id, c, v) => (id + 2000L, c, v) }: _*)
      ingest.processAllAvailable()
      assert(ingest.commits == 2)
      assert(spark.read.parquet(s"$dir/ivf").count() == 280L)
      assert(ingest.rebalances == 0, "no cadence configured")
    } finally ingest.stop()
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  test("a skewed stream triggers the inline rebalance; the handle swaps; serving stays exact") {
    val dir = java.nio.file.Files.createTempDirectory("ingest_skew").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_ckpt2").toString
    val base = mkData(200, 13)
    val ivf = VectorSearch.buildIvf(
      base.toDF("vec_id", "cat", "embedding"), "embedding", 4,
      s"$dir/ivf", sampleFraction = 1.0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Array[Float])]
    val ingest = UpsertStream.runIndexIngest(
      mem.toDF().toDF("vec_id", "cat", "embedding"), ivf, "embedding",
      ckpt, rebalanceEvery = 2, hotFactor = 2.0)
    try {
      // two skewed commits — the second lands on the cadence and the
      // center-0 cell is far past 2× mean by then
      mem.addData(skewRows(400, 1000L, 14): _*)
      ingest.processAllAvailable()
      mem.addData(skewRows(400, 2000L, 15): _*)
      ingest.processAllAvailable()
      ingest.awaitMaintenance() // rebalance runs on the background worker
      assert(ingest.commits == 2)
      assert(ingest.rebalances == 1, "cadence commit must have split")
      val fresh = ingest.index
      assert(fresh ne ivf, "handle must swap to the rebalanced index")
      assert(fresh.centroids.length > 4)
      assert(fresh.cellCounts.sum == 1000L)
      assert(spark.read.parquet(s"$dir/ivf").count() == 1000L)
      fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
      val q = base(5)._3
      val got = fresh.search(spark, q, 25, nprobe = fresh.centroids.length)
        .select(col("vec_id"), col("score")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(t => (-t._2, t._1)).toSeq
      assert(got == bruteTopK(q, 25, s"$dir/ivf"))
      // the ingest keeps writing through the SWAPPED handle — into the
      // TAIL segment (r17): rows are visible immediately; cellCounts
      // carries them only after the compaction cadence folds the tail
      mem.addData(mkData(20, 17).map { case (id, c, v) => (id + 5000L, c, v) }: _*)
      ingest.processAllAvailable()
      assert(spark.read.parquet(s"$dir/ivf").count() == 1020L)
      assert(ingest.index.cellCounts.sum +
        ingest.index.tailRowsNow(spark) == 1020L)
      assert(ingest.index.compactTail(spark) == 20L)
      assert(ingest.index.cellCounts.sum == 1020L)
    } finally ingest.stop()
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }

  test("replay fence: batches at or below the persisted marker are skipped, same checkpoint only (r17)") {
    val dir = java.nio.file.Files.createTempDirectory("ingest_fence").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_fck").toString
    val base = mkData(200, 23)
    val ivf = VectorSearch.buildIvf(
      base.toDF("vec_id", "cat", "embedding"), "embedding", 4,
      s"$dir/ivf", sampleFraction = 1.0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // simulate a recovered stream whose first two replayed batches were
    // already applied before the crash: marker says (this ckpt, batch 1)
    UpsertStream.IngestMarker.write(spark, s"$dir/ivf", ckpt, 1L)
    val mem = MemoryStream[(Long, Int, Array[Float])]
    val ingest = UpsertStream.runIndexIngest(
      mem.toDF().toDF("vec_id", "cat", "embedding"), ivf, "embedding", ckpt)
    try {
      // batches 0 and 1 — both at/below the fence: NOT re-appended
      mem.addData(mkData(30, 25).map { case (id, c, v) => (id + 1000L, c, v) }: _*)
      ingest.processAllAvailable()
      mem.addData(mkData(30, 26).map { case (id, c, v) => (id + 2000L, c, v) }: _*)
      ingest.processAllAvailable()
      assert(ingest.commits == 0, "fenced batches must not re-append")
      assert(spark.read.parquet(s"$dir/ivf").count() == 200L)
      // batch 2 crosses the fence: applied, and the marker advances
      mem.addData(mkData(30, 27).map { case (id, c, v) => (id + 3000L, c, v) }: _*)
      ingest.processAllAvailable()
      assert(ingest.commits == 1)
      assert(spark.read.parquet(s"$dir/ivf").count() == 230L)
      assert(UpsertStream.IngestMarker.read(spark, s"$dir/ivf")
        .contains((ckpt, 2L)))
    } finally ingest.stop()
    // a DIFFERENT checkpoint ignores the marker (its batchIds restart)
    val ckpt2 = java.nio.file.Files.createTempDirectory("ingest_fck2").toString
    val mem2 = MemoryStream[(Long, Int, Array[Float])]
    val ingest2 = UpsertStream.runIndexIngest(
      mem2.toDF().toDF("vec_id", "cat", "embedding"), ingest.index,
      "embedding", ckpt2)
    try {
      mem2.addData(mkData(10, 29).map { case (id, c, v) => (id + 4000L, c, v) }: _*)
      ingest2.processAllAvailable()
      assert(ingest2.commits == 1)
      assert(spark.read.parquet(s"$dir/ivf").count() == 240L)
    } finally ingest2.stop()
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(ckpt))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(ckpt2))
  }

  test("localMap ingest: ids-only stream, driver-side row build, onCommit visibility hook (r17)") {
    val dir = java.nio.file.Files.createTempDirectory("ingest_local").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_lck").toString
    val base = mkData(200, 31)
    val ivf = VectorSearch.buildIvf(
      base.toDF("vec_id", "cat", "embedding"), "embedding", 4,
      s"$dir/ivf", sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("cat", IntegerType),
      StructField("embedding", ArrayType(FloatType))))
    // the per-object "re-embed": deterministic vector from the id
    def rowFor(id: Long): org.apache.spark.sql.Row = {
      val rnd = new scala.util.Random(id)
      org.apache.spark.sql.Row(id, (id % 3).toInt,
        Array.fill(dims)(5.0f + rnd.nextFloat() - 0.5f).toSeq)
    }
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val mem = MemoryStream[Long]
    val ingest = UpsertStream.runIndexIngest(
      mem.toDF().withColumnRenamed("value", "vec_id"), ivf, "embedding",
      ckpt,
      localMap = Some((rows => rows.map(r => rowFor(r.getLong(0))), schema)),
      onCommit = (_, rows) =>
        rows.foreach(r => committed.add(r.getLong(0))))
    try {
      mem.addData(5000L, 5001L, 5002L)
      ingest.processAllAvailable()
      assert(ingest.commits == 1)
      import scala.jdk.CollectionConverters._
      assert(committed.asScala.toSet == Set(5000L, 5001L, 5002L))
      assert(spark.read.parquet(s"$dir/ivf").count() == 203L)
      // the appended rows serve exactly
      val q = Array.fill(dims)(5.0f)
      val got = ingest.index.search(spark, q, 30, nprobe = 4)
        .select(col("vec_id"), col("score")).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(t => (-t._2, t._1)).toSeq
      assert(got == bruteTopK(q, 30, s"$dir/ivf"))
    } finally ingest.stop()
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(ckpt))
  }
}
