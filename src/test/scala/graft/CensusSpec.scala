package graft

import graft.operators.VectorSearch
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CensusIndex

/** The r15 persisted-file-census contract: a loaded index serves its
  * first search from the manifest's file list (no directory listing),
  * and every way the list can go stale — appends after the checkpoint,
  * external appends via refresh(), crashed appenders — drops back to a
  * real listing rather than ever serving a file list that misses rows.
  */
class CensusSpec extends SparkSpec {
  import spark.implicits._

  private def mkData(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val centers = Seq(Array.fill(8)(5.0f), Array.fill(8)(-5.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 5.0f else -5.0f))
    (0 until n).map { i =>
      val c = centers(i % 3)
      (i.toLong, i % 3, c.map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "cat", "embedding")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted

  test("build persists a census; load re-arms it and serves identical results") {
    val dir = java.nio.file.Files.createTempDirectory("census_rt").toString
    val built = VectorSearch.buildIvf(mkData(120, 3), "embedding", 3, dir)
    assert(built.censusNow0.isDefined, "build did not capture a census")
    assert(CensusIndex.readEpoch(spark, dir).contains(0L))
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.censusNow0.isDefined, "load did not re-arm the census")
    assert(loaded.hasDistColumn, "load did not detect the __dist column")
    // census file list == what a real listing finds
    def norm(s: String): String = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val listed = spark.read.parquet(dir).inputFiles.map(norm).toSet
    val censusPaths = loaded.censusNow0.get._3
      .map(f => norm(s"$dir/${f.relPath}")).toSet
    assert(censusPaths == listed,
      s"census ${censusPaths.size} files != listed ${listed.size}")
    // first search on the loaded (census-backed) handle: parity with the
    // built handle, filtered and unfiltered
    val q = Array.fill(8)(5.0f)
    assert(ids(loaded.search(spark, q, 10, nprobe = 3)) ==
      ids(built.search(spark, q, 10, nprobe = 3)))
    val pred = col("cat") === 1
    assert(ids(loaded.search(spark, q, 10, nprobe = 3, Some(pred))) ==
      ids(built.search(spark, q, 10, nprobe = 3, Some(pred))))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("append after the checkpoint invalidates the PERSISTED census (epoch mismatch)") {
    val dir = java.nio.file.Files.createTempDirectory("census_ep").toString
    val built = VectorSearch.buildIvf(mkData(120, 5), "embedding", 3, dir)
    // manual-checkpoint mode: the append bumps the epoch and adds files
    // but the manifest keeps the build-time census (epoch 0)
    built.tuning = built.tuning.copy(manifestCheckpointEvery = Some(0))
    built.append(Seq((900L, 0, Array.fill(8)(5.3f)))
      .toDF("vec_id", "cat", "embedding"), "embedding")
    assert(CensusIndex.readEpoch(spark, dir).contains(1L))
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    // stale census refused — and the fallback listing sees the appended
    // row on the very first search
    assert(loaded.censusNow0.isEmpty,
      "load admitted a census older than the index's epoch")
    // ...but the SCHEMA (and hasDistColumn with it) binds regardless of
    // census freshness — it is a property of the files, and losing it
    // here is exactly the r15 ADVICE bug (appends through this handle
    // would write dist-less files into an r15 layout)
    assert(loaded.hasDistColumn,
      "schema-derived state must survive an epoch mismatch")
    val hits = ids(loaded.search(spark, Array.fill(8)(5.0f), 121, nprobe = 3))
    assert(hits.contains(900L), "appended row invisible after fallback load")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("append FOLDS its files into the census; checkpoint persists it (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("census_fold").toString
    val built = VectorSearch.buildIvf(mkData(120, 7), "embedding", 3, dir)
    val n0 = built.censusNow0.get._3.size
    built.tuning = built.tuning.copy(manifestCheckpointEvery = Some(0))
    built.append(Seq((901L, 1, Array.fill(8)(-5.2f)))
      .toDF("vec_id", "cat", "embedding"), "embedding")
    // the appender knows which files it wrote: the census stays ARMED at
    // the bumped epoch — no search-triggered re-listing needed
    assert(built.censusNow0.isDefined, "append must fold, not drop, the census")
    assert(built.censusNow0.get._1 == 1L)
    assert(built.censusNow0.get._3.size > n0, "fold missing appended files")
    // folded file set == what a real listing finds
    def norm(s: String): String = new org.apache.hadoop.fs.Path(s).toUri.getPath
    val listed = spark.read.parquet(dir).inputFiles.map(norm).toSet
    assert(built.censusNow0.get._3.map(f => norm(s"$dir/${f.relPath}")).toSet
      == listed, "folded census diverges from a real listing")
    // the census-served search sees the appended row immediately
    assert(ids(built.search(spark, Array.fill(8)(-5.0f), 121, nprobe = 3))
      .contains(901L))
    // ...and the next checkpoint persists the folded census: a fresh
    // process loads it (epoch parity) and serves listing-free
    built.saveManifest(spark)
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.censusNow0.isDefined, "folded census not persisted")
    assert(loaded.censusNow0.get._1 == 1L)
    assert(loaded.hasDistColumn)
    assert(ids(loaded.search(spark, Array.fill(8)(-5.0f), 121, nprobe = 3))
      .contains(901L))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("search-recapture + checkpoint heals a dropped census") {
    val dir = java.nio.file.Files.createTempDirectory("census_heal").toString
    val built = VectorSearch.buildIvf(mkData(120, 13), "embedding", 3, dir)
    built.tuning = built.tuning.copy(manifestCheckpointEvery = Some(0))
    // refresh() drops the census (external-append contract) — the next
    // append then has nothing to fold into and leaves it empty
    built.refresh()
    built.append(Seq((901L, 1, Array.fill(8)(-5.2f)))
      .toDF("vec_id", "cat", "embedding"), "embedding")
    assert(built.censusNow0.isEmpty,
      "no prior census to fold into — append must leave it dropped")
    // a search re-lists and recaptures at the new epoch...
    built.search(spark, Array.fill(8)(5.0f), 5, nprobe = 3).collect()
    assert(built.censusNow0.isDefined, "search did not recapture the census")
    assert(built.censusNow0.get._1 == 1L)
    // ...and the next checkpoint persists it for fresh processes
    built.saveManifest(spark)
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.censusNow0.isDefined, "healed census not persisted")
    assert(ids(loaded.search(spark, Array.fill(8)(-5.0f), 121, nprobe = 3))
      .contains(901L))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("refresh() drops the census (external appends)") {
    val dir = java.nio.file.Files.createTempDirectory("census_rf").toString
    val built = VectorSearch.buildIvf(mkData(120, 9), "embedding", 3, dir)
    assert(built.censusNow0.isDefined)
    built.refresh()
    assert(built.censusNow0.isEmpty)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("census survives relocating the index directory (relative paths)") {
    val dir = java.nio.file.Files.createTempDirectory("census_mv").toString
    val built = VectorSearch.buildIvf(mkData(120, 11), "embedding", 3, dir)
    val q = Array.fill(8)(5.0f)
    val want = ids(built.search(spark, q, 10, nprobe = 3))
    // move the whole index tree — data files, manifest, epoch file
    val dir2 = dir + "_moved"
    java.nio.file.Files.move(java.nio.file.Paths.get(dir),
      java.nio.file.Paths.get(dir2))
    val loaded = VectorSearch.IvfIndex.load(spark, dir2)
    assert(loaded.censusNow0.isDefined,
      "census must re-arm at the new location (paths are stored relative)")
    assert(ids(loaded.search(spark, q, 10, nprobe = 3)) == want)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir2))
  }

  test("missing/corrupt epoch file reads as None (fail-safe fallback)") {
    val dir = java.nio.file.Files.createTempDirectory("census_tear").toString
    assert(CensusIndex.readEpoch(spark, dir.toString).isEmpty)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_epoch"), "not-a-long".getBytes)
    assert(CensusIndex.readEpoch(spark, dir.toString).isEmpty)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
