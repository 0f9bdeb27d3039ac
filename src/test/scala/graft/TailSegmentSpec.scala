package graft

import graft.operators.VectorSearch
import graft.operators.VectorSearch.IvfIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The r17 streaming TAIL segment — the LSM half of the index's write
  * path: [[IvfIndex.appendTail]] lands a whole micro-batch as ONE file
  * under the `__cluster=-1` partition (no assignment, no per-cell
  * fan-out), every search reads `planned cells ∪ tail`, and
  * [[IvfIndex.compactTail]] migrates the rows into their real cells
  * through the crash-atomic journal.
  *
  * Pinned here:
  *  (1) tail rows serve at full fidelity from every path — search at
  *      any nprobe, searchMulti, filtered plans — including a filter
  *      whose ONLY matches live in the tail (the occupancy jobless
  *      zero-match path must not fire over a live tail);
  *  (2) compactTail leaves the index indistinguishable from one whose
  *      batches went through append(): same rows, rows == Σ cellCounts,
  *      occupancy folded, no −1 files left, search results identical;
  *  (3) the compaction journal survives a crash at the widest window
  *      (after journal, before replay): the next load() completes the
  *      move with no duplicate and no lost row;
  *  (4) tombstones cover tail rows before, during and after compaction;
  *  (5) sq8 layouts tail-append through the same quantize path and
  *      score identically to their compacted form;
  *  (6) a FRESH load() of an index with a live tail serves the tail
  *      (census or listing, either discovery path).
  */
class TailSegmentSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  private def mkData(n: Int, seed: Int, catMod: Int = 3) = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq(
      Array.fill(dims)(5.0f), Array.fill(dims)(-5.0f),
      Array.tabulate(dims)(i => if (i % 2 == 0) 5.0f else -5.0f),
      Array.tabulate(dims)(i => if (i % 3 == 0) -5.0f else 5.0f))
    (0 until n).map { i =>
      val c = centers(i % centers.length)
      (i.toLong, s"cat-${i % catMod}",
        c.map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "cat", "embedding")
  }

  private def bruteTopK(rows: Seq[(Long, Array[Float])], q: Array[Float],
      k: Int, drop: Set[Long] = Set.empty): Seq[Long] =
    rows.filterNot(r => drop(r._1)).map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i).toDouble * q(i); i += 1 }
      (id, acc)
    }.sortBy(t => (-t._2, t._1)).take(k).map(_._1)

  private def asRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Float])] =
    df.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq

  private def gotIds(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(col("vec_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(t => (-t._2, t._1)).map(_._1).toSeq

  test("tail rows serve from every path; tail-only filters are found") {
    val dir = java.nio.file.Files.createTempDirectory("tail_serve").toString
    val base = mkData(240, 31)
    val ivf = VectorSearch.buildIvf(base, "embedding", 4, dir,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0) // pin the probe path
    // two tail batches; "cat-9" exists ONLY in the tail. The batches
    // sit in their own region (+40 per dim) so a tail row's own query
    // ranks tail rows first — any miss is a membership bug, not noise
    val t1 = mkData(20, 77).withColumn("vec_id", col("vec_id") + 1000L)
      .withColumn("embedding",
        transform(col("embedding"), v => v + lit(40.0f)))
    val t2 = mkData(12, 78, catMod = 1)
      .withColumn("vec_id", col("vec_id") + 2000L)
      .withColumn("cat", lit("cat-9"))
      .withColumn("embedding",
        transform(col("embedding"), v => v + lit(40.0f)))
    assert(ivf.appendTail(t1, "embedding") == 20L)
    assert(ivf.appendTail(t2, "embedding") == 12L)
    assert(ivf.tailRowsNow(spark) == 32L)
    // exactly one file per tail batch
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tailFiles = fs.listStatus(new Path(dir, "__cluster=-1"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    assert(tailFiles.length == 2, "one file per tail commit")
    val all = asRows(base) ++ asRows(t1) ++ asRows(t2)
    val q = all.find(_._1 == 1007L).get._2
    // unfiltered probe at small nprobe still reads the tail
    assert(gotIds(ivf.search(spark, q, 10, nprobe = 1)).contains(1007L))
    // full probe = brute over base ∪ tail
    assert(gotIds(ivf.search(spark, q, 15, nprobe = 4)) ==
      bruteTopK(all, q, 15))
    // searchMulti parity
    val q2 = all.find(_._1 == 2003L).get._2
    val multi = ivf.searchMulti(spark, Seq(q, q2), 8, nprobe = 4, "vec_id")
      .collect().groupBy(_.getInt(0))
    Seq(q, q2).zipWithIndex.foreach { case (qq, qi) =>
      val g = multi(qi).map(r =>
        (r.getAs[String]("vec_id").toLong, r.getAs[Double]("score")))
        .sortBy(t => (-t._2, t._1)).map(_._1).toSeq
      assert(g == bruteTopK(all, qq, 8), s"query $qi")
    }
    // a filter whose ONLY matches are tail rows: occupancy knows
    // nothing of cat-9, but the plan must still read the tail
    val hits = gotIds(ivf.search(spark, q2, 5, nprobe = 4,
      Some(col("cat") === "cat-9")))
    assert(hits == bruteTopK(asRows(t2), q2, 5),
      "tail-only filter must be served (jobless zero-match may not fire)")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("compactTail folds the tail into an append()-equivalent index") {
    val dirA = java.nio.file.Files.createTempDirectory("tail_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("tail_b").toString
    val base = mkData(240, 41)
    val batch = mkData(40, 42).withColumn("vec_id", col("vec_id") + 1000L)
    // A: tail append + compact; B: classic append — the twin
    val a = VectorSearch.buildIvf(base, "embedding", 4, dirA,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    val b = VectorSearch.buildIvf(base, "embedding", 4, dirB,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    a.appendTail(batch, "embedding")
    b.append(batch, "embedding")
    assert(a.compactTail(spark) == 40L)
    assert(a.tailRowsNow(spark) == 0L)
    val fs = new Path(dirA).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(dirA, "__cluster=-1")) ||
      fs.listStatus(new Path(dirA, "__cluster=-1"))
        .forall(st => st.getPath.getName.startsWith("_")),
      "no tail data files survive compaction")
    // rows == Σ cellCounts, and equal to the twin's
    assert(a.cellCounts.sum == 280L)
    assert(a.cellCounts.toSeq == b.cellCounts.toSeq,
      "compacted per-cell counts equal the append() twin's")
    assert(a.occupancyTable == b.occupancyTable,
      "compacted occupancy equals the append() twin's")
    val all = asRows(base) ++ asRows(batch)
    val q = all.find(_._1 == 1013L).get._2
    a.tuning = a.tuning.copy(exactScanFraction = 0.0)
    b.tuning = b.tuning.copy(exactScanFraction = 0.0)
    assert(gotIds(a.search(spark, q, 12, nprobe = 4)) ==
      gotIds(b.search(spark, q, 12, nprobe = 4)))
    assert(gotIds(a.search(spark, q, 12, nprobe = 4)) ==
      bruteTopK(all, q, 12))
    // compacting an empty tail is a no-op
    assert(a.compactTail(spark) == 0L)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dirA))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dirB))
  }

  test("compaction journal replays after a crash at the widest window") {
    val dir = java.nio.file.Files.createTempDirectory("tail_crash").toString
    val base = mkData(200, 51)
    val batch = mkData(30, 52).withColumn("vec_id", col("vec_id") + 1000L)
    val ivf = VectorSearch.buildIvf(base, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.appendTail(batch, "embedding")
    ivf.failAfterJournal = true
    intercept[RuntimeException] { ivf.compactTail(spark) }
    ivf.failAfterJournal = false
    // fresh load replays the journal: every row exactly once
    val fresh = IvfIndex.load(spark, dir)
    assert(spark.read.parquet(dir).count() == 230L, "no dup, no loss")
    val all = asRows(base) ++ asRows(batch)
    val q = all.find(_._1 == 1011L).get._2
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    assert(gotIds(fresh.search(spark, q, 10, nprobe = 4)) ==
      bruteTopK(all, q, 10))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("tombstones cover tail rows before and after compaction") {
    val dir = java.nio.file.Files.createTempDirectory("tail_del").toString
    val base = mkData(200, 61)
    val batch = mkData(30, 62).withColumn("vec_id", col("vec_id") + 1000L)
    val ivf = VectorSearch.buildIvf(base, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    ivf.appendTail(batch, "embedding")
    val drop = Set(1003L, 1017L, 7L)
    assert(ivf.delete(spark, "vec_id", drop.toSeq) == 3L)
    val all = asRows(base) ++ asRows(batch)
    val q = all.find(_._1 == 1003L).get._2
    val pre = gotIds(ivf.search(spark, q, 20, nprobe = 4))
    assert(pre == bruteTopK(all, q, 20, drop))
    assert(!pre.exists(drop), "tombstoned tail rows must not serve")
    ivf.compactTail(spark)
    val post = gotIds(ivf.search(spark, q, 20, nprobe = 4))
    assert(post == pre, "compaction preserves the exclusion")
    // scrub still removes them physically (tail rows now in cells)
    assert(ivf.scrub(spark) == 3L)
    assert(spark.read.parquet(dir).count() == 227L)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("sq8 layouts tail-append through the quantize path") {
    val dir = java.nio.file.Files.createTempDirectory("tail_sq8").toString
    val base = mkData(200, 71)
    val batch = mkData(24, 72).withColumn("vec_id", col("vec_id") + 1000L)
      .withColumn("embedding",
        transform(col("embedding"), v => v + lit(40.0f)))
    val ivf = VectorSearch.buildIvf(base, "embedding", 4, dir,
      sampleFraction = 1.0, storage = "sq8")
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    ivf.appendTail(batch, "embedding")
    val q = asRows(batch).find(_._1 == 1009L).get._2
    // the batch's region holds only tail rows — every hit must be one
    // (self-rank among 24 near-identical rows is quantization noise;
    // membership and cross-layout score identity are the claims)
    val withTail = gotIds(ivf.search(spark, q, 10, nprobe = 4))
    assert(withTail.nonEmpty && withTail.forall(_ >= 1000L),
      s"sq8 probe must serve the tail region, got $withTail")
    ivf.compactTail(spark)
    val compacted = gotIds(ivf.search(spark, q, 10, nprobe = 4))
    assert(compacted == withTail,
      "sq8 scoring identical across tail and compacted layouts")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a live tail does not suppress the thin-support classification") {
    // the review-found regression: an occupancy-path tail UPPER BOUND
    // folded into totalMatches pushed ultra-selective filters past the
    // thinFactor·k bar whenever a tail was live. The fix keeps the
    // jobless path blind to the tail (membership still reads it) —
    // thin must fire on the REAL support with a big tail present.
    val dir = java.nio.file.Files.createTempDirectory("tail_thin").toString
    val base = mkData(240, 91)
      .withColumn("cat",
        when(col("vec_id").isin(11L, 57L, 103L), "cat-rare")
          .otherwise(col("cat")))
    val ivf = VectorSearch.buildIvf(base, "embedding", 4, dir,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    // open the cost gate on this tiny fixture
    ivf.tuning = ivf.tuning.copy(thinReadFraction = 1.0)
    // a tail far past thinFactor·k (16·2 = 32): 120 rows, one of them
    // matching the rare category
    val tail = mkData(120, 92).withColumn("vec_id", col("vec_id") + 1000L)
      .withColumn("cat",
        when(col("vec_id") === 1007L, "cat-rare").otherwise(col("cat")))
    ivf.appendTail(tail, "embedding")
    val all = asRows(base) ++ asRows(tail)
    val rare = Set(11L, 57L, 103L, 1007L)
    val q = all.find(_._1 == 11L).get._2
    val thin0 = ivf.thinSupportPlanCount
    val got = gotIds(ivf.search(spark, q, 2, nprobe = 1,
      Some(col("cat") === "cat-rare")))
    assert(ivf.thinSupportPlanCount > thin0,
      "thin-support must fire on the real (occupancy) support — the " +
        "tail upper bound may not enter totalMatches")
    val want = bruteTopK(all.filter(r => rare(r._1)), q, 2)
    assert(got == want, "thin plan + tail must serve the exact answer")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a fresh load() serves a live tail") {
    val dir = java.nio.file.Files.createTempDirectory("tail_load").toString
    val base = mkData(160, 81)
    val batch = mkData(16, 82).withColumn("vec_id", col("vec_id") + 1000L)
    val ivf = VectorSearch.buildIvf(base, "embedding", 4, dir,
      sampleFraction = 1.0)
    // checkpoint WITH the tail in census
    ivf.tuning = ivf.tuning.copy(manifestCheckpointEvery = Some(1))
    ivf.appendTail(batch, "embedding")
    val fresh = IvfIndex.load(spark, dir)
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    assert(fresh.tailRowsNow(spark) == 16L)
    val all = asRows(base) ++ asRows(batch)
    val q = asRows(batch).find(_._1 == 1005L).get._2
    assert(gotIds(fresh.search(spark, q, 10, nprobe = 4)) ==
      bruteTopK(all, q, 10))
    // and the listing-discovery path too (no manifest after the append)
    val dir2 = java.nio.file.Files.createTempDirectory("tail_load2").toString
    val ivf2 = VectorSearch.buildIvf(base, "embedding", 4, dir2,
      sampleFraction = 1.0)
    // stale census in the manifest
    ivf2.tuning = ivf2.tuning.copy(manifestCheckpointEvery = Some(0))
    ivf2.appendTail(batch, "embedding")
    val fresh2 = IvfIndex.load(spark, dir2)
    fresh2.tuning = fresh2.tuning.copy(exactScanFraction = 0.0)
    assert(fresh2.tailRowsNow(spark) == 16L)
    assert(gotIds(fresh2.search(spark, q, 10, nprobe = 4)) ==
      bruteTopK(all, q, 10))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir2))
  }
}
