package graft

import graft.operators.VectorSearch
import graft.operators.VectorSearch.IvfIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The r16 hot-cell rebalance contract — the incremental maintenance
  * step between append() (grow) and a full retrain: cells that skewed
  * appends have blown past `hotFactor ×` the mean are split locally,
  * everything else is untouched.
  *
  * Pinned here:
  *  (1) only hot cells are rewritten — cold cells keep their FILES
  *      (same paths), stats and occupancy rows;
  *  (2) the split preserves the data exactly: row count, id set, and
  *      the full-probe search result are identical before/after;
  *  (3) the returned handle's stats are truthful — cellCounts sum to
  *      the total, the former hot cell's count drops, and the split
  *      cells' counts are exact;
  *  (4) a fresh load() serves the rebalanced index (manifest with the
  *      grown centroid table round-trips, census armed);
  *  (5) occupancy-filtered searches stay exact across the split;
  *  (6) sq8 layouts rebalance on the dequantized stored representation
  *      with identical serving scores;
  *  (7) a rebalance journal replay KEEPS tombstones (scrub's clears
  *      them) — the header distinction in the shared replay machinery;
  *  (8) an index with no hot cell is returned unchanged;
  *  (9) the returned handle carries the old handle's Tuning, and a
  *      default checkpoint cadence re-derives for its grown cell count.
  */
class RebalanceSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  /** Balanced 4-center fixture (one spatial cluster per build cell). */
  private def mkData(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq(
      Array.fill(dims)(5.0f), Array.fill(dims)(-5.0f),
      Array.tabulate(dims)(i => if (i % 2 == 0) 5.0f else -5.0f),
      Array.tabulate(dims)(i => if (i % 3 == 0) -5.0f else 5.0f))
    (0 until n).map { i =>
      val c = centers(i % centers.length)
      (i.toLong, i % 3, c.map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "cat", "embedding")
  }

  /** A skewed batch: ids from `from`, all near center 0 — lands in one
    * cell and makes it hot.
    */
  private def skewBatch(n: Int, from: Long, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (from + i, i % 3,
        Array.fill(dims)(5.0f).map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "cat", "embedding")
  }

  private def got(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select(col("vec_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1))
      .toSeq

  private def queryVec(df: org.apache.spark.sql.DataFrame, id: Long) =
    df.filter(col("vec_id") === id).select(col("embedding"))
      .head().getSeq[Float](0).toArray

  test("split preserves data exactly; only hot cells rewritten; stats truthful") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_core").toString
    val data = mkData(400, 7)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.append(skewBatch(1200, 1000L, 8), "embedding")
    val hotCell = ivf.cellCounts.zipWithIndex.maxBy(_._1)._2
    val oldMax = ivf.cellCounts.max
    assert(oldMax >= 1200L, "fixture: the skewed batch must share a cell")
    val coldFiles = spark.read.parquet(dir).inputFiles
      .filterNot(_.contains(s"__cluster=$hotCell/")).toSet
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 3)
    val before = got(ivf.search(spark, q, 30, nprobe = 4))
    val fresh = ivf.rebalance(spark)
    assert(fresh ne ivf, "a hot cell existed; rebalance must split")
    assert(fresh.centroids.length > 4)
    // data preserved exactly
    val after = spark.read.parquet(dir)
    assert(after.count() == 1600L)
    assert(after.select("vec_id").as[Long].collect().sorted.toSeq ==
      ((0L until 400L) ++ (1000L until 2200L)).sorted)
    // cold cells untouched (same physical files)
    val filesNow = after.inputFiles.toSet
    assert(coldFiles.subsetOf(filesNow),
      "rebalance rewrote a cold cell's files")
    // serving identical at full probe
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    assert(got(fresh.search(spark, q, 30,
      nprobe = fresh.centroids.length)) == before)
    // stats truthful
    assert(fresh.cellCounts.sum == 1600L)
    assert(fresh.cellCounts.max < oldMax, "hot cell did not shrink")
    // split-cell counts are exact: re-derive from the files
    val byCell = after.groupBy("__cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    fresh.cellCounts.zipWithIndex.foreach { case (n, c) =>
      assert(n == byCell.getOrElse(c, 0L), s"cell $c count")
    }
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("fresh load() serves the rebalanced index; census armed") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_load").toString
    val data = mkData(300, 17)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.append(skewBatch(900, 1000L, 18), "embedding")
    val fresh = ivf.rebalance(spark)
    assert(fresh.centroids.length > 4)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.centroids.length == fresh.centroids.length)
    assert(loaded.censusNow0.isDefined,
      "rebalance's saveManifest must persist a census valid at the new epoch")
    loaded.tuning = loaded.tuning.copy(exactScanFraction = 0.0)
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 5)
    assert(got(loaded.search(spark, q, 25,
      nprobe = loaded.centroids.length)) ==
      got(fresh.search(spark, q, 25, nprobe = fresh.centroids.length)))
    assert(loaded.cellCounts.toSeq == fresh.cellCounts.toSeq)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("occupancy stays exact across the split") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_occ").toString
    val data = mkData(300, 27)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    ivf.append(skewBatch(900, 1000L, 28), "embedding")
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 5)
    val pre = (0 to 2).map(c =>
      got(ivf.search(spark, q, 20, nprobe = 4, Some(col("cat") === c))))
    val fresh = ivf.rebalance(spark)
    assert(fresh.centroids.length > 4)
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    (0 to 2).foreach { c =>
      assert(got(fresh.search(spark, q, 20, nprobe = fresh.centroids.length,
        Some(col("cat") === c))) == pre(c), s"cat=$c")
    }
    // occupancy totals per value unchanged (rows only moved cells)
    val occ = fresh.occupancyTable("cat")
    (0 to 2).foreach { c =>
      val tot = occ.collect { case ((_, v), n) if v == c.toString => n }.sum
      assert(tot == 1200L / 3, s"cat=$c occupancy total")
    }
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("sq8 layout rebalances on the stored representation; scores identical") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_sq8").toString
    val data = mkData(300, 37)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0, storage = "sq8")
    ivf.append(skewBatch(900, 1000L, 38), "embedding")
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 5)
    val before = got(ivf.search(spark, q, 30, nprobe = 4))
    val fresh = ivf.rebalance(spark)
    assert(fresh.centroids.length > 4)
    assert(fresh.quantized, "storage mode must survive the rebalance")
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    assert(got(fresh.search(spark, q, 30,
      nprobe = fresh.centroids.length)) == before)
    // the sq8 layout columns survive the rewrite
    val names = spark.read.parquet(dir).schema.fieldNames.toSet
    assert(names.contains("__codes") && !names.contains("__vec"))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a rebalance journal replay keeps tombstones; scrub's clears them") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_del").toString
    val data = mkData(100, 47)
    val ivf = VectorSearch.buildIvf(data, "embedding", 2, dir,
      sampleFraction = 1.0)
    ivf.delete(spark, "vec_id", Seq(1L, 2L))
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a rebalance journal with nothing to do — replay must leave the
    // tombstone set alone
    val out = fs.create(new Path(dir, IvfIndex.ScrubJournal), true)
    out.write(IvfIndex.RebalanceJournalHeader.getBytes("UTF-8")); out.close()
    IvfIndex.replayScrub(fs, new Path(dir))
    assert(fs.exists(new Path(dir, IvfIndex.DeletesDir)),
      "rebalance replay must not clear tombstones")
    assert(ivf.tombstoneCount(spark) == 2L)
    // scrub's own header clears them
    val out2 = fs.create(new Path(dir, IvfIndex.ScrubJournal), true)
    out2.write(IvfIndex.ScrubJournalHeader.getBytes("UTF-8")); out2.close()
    IvfIndex.replayScrub(fs, new Path(dir))
    assert(!fs.exists(new Path(dir, IvfIndex.DeletesDir)))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("crash between journal commit and replay: load() serves the FULL rebalance") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_crash").toString
    val data = mkData(300, 67)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.append(skewBatch(900, 1000L, 68), "embedding")
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 5)
    val before = got(ivf.search(spark, q, 30, nprobe = 4))
    ivf.failAfterJournal = true
    val thrown = intercept[RuntimeException] { ivf.rebalance(spark) }
    assert(thrown.getMessage.contains("injected crash"))
    // the "crashed" index: journal present, stage present, old manifest
    // still the committed one. load() must complete the rebalance — the
    // moved files AND the grown centroid table arrive together.
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(dir, IvfIndex.ScrubJournal)))
    val loaded = IvfIndex.load(spark, dir)
    assert(!fs.exists(new Path(dir, IvfIndex.ScrubJournal)), "journal gone")
    assert(loaded.centroids.length > 4,
      "replay must commit the grown centroid table with the moved files")
    assert(spark.read.parquet(dir).count() == 1200L)
    assert(loaded.cellCounts.sum == 1200L)
    loaded.tuning = loaded.tuning.copy(exactScanFraction = 0.0)
    assert(got(loaded.search(spark, q, 30,
      nprobe = loaded.centroids.length)) == before)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("rebalance with live tombstones scrubs them first") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_tomb").toString
    val data = mkData(300, 77)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.append(skewBatch(900, 1000L, 78), "embedding")
    // tombstone rows on BOTH sides of the split: some base rows, some
    // of the hot cell's appended rows
    val drop = (0L until 300L).filter(_ % 10 == 3) ++
      (1000L until 1900L).filter(_ % 9 == 4)
    ivf.delete(spark, "vec_id", drop)
    val fresh = ivf.rebalance(spark)
    assert(fresh.centroids.length > 4)
    // the scrub-inside-rebalance removed them physically, before the
    // split counted or carried anything
    assert(fresh.tombstoneCount(spark) == 0L)
    assert(spark.read.parquet(dir)
      .filter(col("vec_id").isin(drop: _*)).count() == 0L)
    assert(spark.read.parquet(dir).count() == 1200L - drop.size)
    assert(fresh.cellCounts.sum == 1200L - drop.size)
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 5)
    val got0 = got(fresh.search(spark, q, 25,
      nprobe = fresh.centroids.length))
    assert(got0.forall(t => !drop.contains(t._1)))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("driftRatio reads the improvement (baseline kept, cells tighter)") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_drift").toString
    val data = mkData(300, 87)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.append(skewBatch(900, 1000L, 88), "embedding")
    val before = ivf.driftRatio(spark, sampleFraction = 1.0)
    val fresh = ivf.rebalance(spark)
    assert(fresh.centroids.length > 4)
    val after = fresh.driftRatio(spark, sampleFraction = 1.0)
    assert(after < before,
      s"splitting the hot cell must reduce mean assigned distance " +
        s"(before $before, after $after)")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("no hot cell: rebalance is the identity") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_noop").toString
    val data = mkData(400, 57)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    val files = spark.read.parquet(dir).inputFiles.toSet
    val fresh = ivf.rebalance(spark)
    assert(fresh eq ivf, "balanced index must not be rewritten")
    assert(spark.read.parquet(dir).inputFiles.toSet == files)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("driver train sample is byte-capped: width scales the row cap; splits still land (r17)") {
    // the pure cap rule: bytes bound rows at 4·dims per row, floor 1024
    assert(VectorSearch.rebalanceTrainCap(2688, 65536, 128L << 20) == 12483)
    assert(VectorSearch.rebalanceTrainCap(384, 65536, 128L << 20) == 65536)
    assert(VectorSearch.rebalanceTrainCap(16, 65536, 128L << 20) == 65536)
    assert(VectorSearch.rebalanceTrainCap(2688, 65536, 1L << 20) == 1024,
      "tiny budgets floor at 1024 rows")
    assert(VectorSearch.rebalanceTrainCap(0, 65536, 128L << 20) == 65536)
    // end-to-end: a budget that forces sampling (1024 of the hot cell's
    // ~1200 rows) still splits the cell and preserves data + serving
    val dir = java.nio.file.Files.createTempDirectory("rebal_cap").toString
    val data = mkData(400, 97)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.append(skewBatch(1200, 1000L, 98), "embedding")
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 3)
    val before = got(ivf.search(spark, q, 30, nprobe = 4))
    val fresh = ivf.rebalance(spark, maxTrainBytesPerCell = 1L << 16)
    assert(fresh ne ivf)
    assert(fresh.centroids.length > 4)
    assert(fresh.cellCounts.sum == 1600L)
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    assert(got(fresh.search(spark, q, 30,
      nprobe = fresh.centroids.length)) == before)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("the fresh handle carries the old handle's Tuning, every field") {
    val dir = java.nio.file.Files.createTempDirectory("rebal_tuning").toString
    val data = mkData(400, 71)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.append(skewBatch(1200, 1000L, 72), "embedding")
    val custom = IvfIndex.Tuning(exactScanFraction = 0.5,
      exactScanMinCells = 3, widenFactor = 2.0, thinFactor = 4.0,
      thinReadFraction = 0.5, deleteInSetMaxIds = 17,
      maxTombstoneIds = 12345, manifestCheckpointEvery = Some(3))
    // every field off its default, so a carry that drops any one shows
    custom.productIterator.zip(IvfIndex.Tuning().productIterator)
      .foreach { case (set, default) => assert(set != default) }
    ivf.tuning = custom
    val fresh = ivf.rebalance(spark)
    assert(fresh ne ivf, "a hot cell existed; rebalance must split")
    assert(fresh.tuning == ivf.tuning)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("checkpoint cadence derives from the handle's own cell count") {
    // the default scales with the manifest: every append up to 8192
    // cells, then one checkpoint per ceil(cells / 8192) appends
    assert(IvfIndex.checkpointCadence(4) == 1)
    assert(IvfIndex.checkpointCadence(8192) == 1)
    assert(IvfIndex.checkpointCadence(8193) == 2)
    assert(IvfIndex.checkpointCadence(65536) == 8)
    // a default Tuning carried across a split that crosses 8192 cells
    // re-derives for the grown handle instead of keeping the old cadence
    val derived = IvfIndex.Tuning()
    assert(derived.checkpointEvery(8000) == 1)
    assert(derived.checkpointEvery(8300) == 2)
    // an explicit cadence holds at any size (0 = manual checkpoints)
    assert(IvfIndex.Tuning(manifestCheckpointEvery = Some(1))
      .checkpointEvery(8300) == 1)
    assert(IvfIndex.Tuning(manifestCheckpointEvery = Some(0))
      .checkpointEvery(4) == 0)
  }
}
