package graft

import graft.operators.VectorSearch
import graft.operators.VectorSearch.IvfIndex
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The r16 index-deletion contract — the lifecycle piece between
  * append() (grow) and a full retrain (rebuild): tombstone deletes and
  * the physical scrub.
  *
  * Pinned here:
  *  (1) delete() excludes ids EXACTLY from every serving path — search,
  *      searchMulti, the exact-scan switch — without touching a data
  *      file; null ids always survive;
  *  (2) the InSet-literal and broadcast id-set exclusion shapes
  *      return identical results (the [[IvfIndex.Tuning.deleteInSetMaxIds]]
  *      crossover is a cost choice, never a semantics choice);
  *  (3) tombstones are durable: a FRESH load() sees them with no
  *      manifest checkpoint in between;
  *  (4) scrub() removes the rows physically, rewrites ONLY the files
  *      that held a tombstoned row, clears the tombstones, and keeps
  *      serving results identical;
  *  (5) scrub survives a crash at the commit point: a pending journal
  *      replays idempotently on the next load();
  *  (6) post-scrub stats stay truthful — a category whose rows were all
  *      deleted serves an empty result from occupancy alone.
  */
class IndexDeleteSpec extends SparkSpec {
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
    }.toDF("vec_id", "cat", "embedding")
  }

  private def queryVec(df: org.apache.spark.sql.DataFrame, id: Long) =
    df.filter(col("vec_id") === id).select(col("embedding"))
      .head().getSeq[Float](0).toArray

  private def bruteTopK(df: org.apache.spark.sql.DataFrame,
      q: Array[Float], k: Int, drop: Set[Long]): Seq[(Long, Double)] =
    df.select(col("vec_id"), col("embedding")).collect()
      .filterNot(r => drop(r.getLong(0)))
      .map { r =>
        val v = r.getSeq[Float](1)
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i).toDouble * q(i); i += 1 }
        (r.getLong(0), acc)
      }.sortBy(t => (-t._2, t._1)).take(k).toSeq

  private def got(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select(col("vec_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1))
      .toSeq

  test("delete excludes ids exactly from search / searchMulti / exact switch") {
    val dir = java.nio.file.Files.createTempDirectory("del_serve").toString
    val data = mkData(300, 11)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    val q = queryVec(data, 7)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    // a search BEFORE the delete prepares the pre-delete snapshot
    assert(got(ivf.search(spark, q, 20, nprobe = 4)) ==
      bruteTopK(data, q, 20, Set.empty))
    val builds = ivf.preparedScanBuildCount
    val drop = (0L until 300L).filter(_ % 7 == 3)
    assert(ivf.delete(spark, "vec_id", drop) == drop.size.toLong)
    assert(ivf.tombstoneCount(spark) == drop.size.toLong)
    // deleting the same ids again folds to zero new tombstones
    assert(ivf.delete(spark, "vec_id", drop.take(5)) == 0L)
    // probe path: the new tombstone set misses the prepared scan; its
    // first search plans one scan and compiles no cell scan
    val compiled = ivf.cellScanBuildCount
    assert(got(ivf.search(spark, q, 20, nprobe = 4)) ==
      bruteTopK(data, q, 20, drop.toSet))
    assert(ivf.exactSwitchCount == 0L)
    assert(ivf.preparedScanBuildCount == builds + 1)
    assert(ivf.cellScanBuildCount == compiled)
    // the second compiles the probed cells (4 + the tail at most) ...
    assert(got(ivf.search(spark, q, 20, nprobe = 4)) ==
      bruteTopK(data, q, 20, drop.toSet))
    val cellScans = ivf.cellScanBuildCount
    assert(cellScans > compiled && cellScans <= compiled + 5)
    // ... and a warm search is exactly one Spark job over them, compiles
    // nothing, and at nprobe = cells equals the exact top-k of the live rows
    val probed = ivf.cellsProbedCount
    val (warm, jobs) = jobsDuring(got(ivf.search(spark, q, 20, nprobe = 4)))
    assert(jobs == 1, s"$jobs jobs for one warm search")
    assert(ivf.cellsProbedCount == probed + 4)
    assert(ivf.preparedScanBuildCount == builds + 1)
    assert(ivf.cellScanBuildCount == cellScans)
    val live = spark.read.parquet(dir).filter(!col("vec_id").isin(drop: _*))
    assert(warm == got(VectorSearch.topK(live, "__vec", q, 20,
      projection = Seq("vec_id"))))
    // exact-scan switch path (force it: any planned volume wins)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 1e-9,
      exactScanMinCells = 0)
    assert(got(ivf.search(spark, q, 20, nprobe = 1)) ==
      bruteTopK(data, q, 20, drop.toSet))
    assert(ivf.exactSwitchCount >= 1L)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    // multi-query path
    val q2 = queryVec(data, 8)
    val multi = ivf.searchMulti(spark, Seq(q, q2), 10, nprobe = 4, "vec_id")
      .collect().groupBy(_.getInt(0))
    Seq(q, q2).zipWithIndex.foreach { case (qq, qi) =>
      val want = bruteTopK(data, qq, 10, drop.toSet)
        .map { case (id, s) => (id.toString, s) }
      val g = multi(qi).map(r =>
        (r.getAs[String]("vec_id"), r.getAs[Double]("score")))
        .sortBy(t => (-t._2, t._1)).toSeq
      assert(g.map(_._1) == want.map(_._1), s"query $qi ids")
    }
    // the data files were not touched by any of this
    assert(spark.read.parquet(dir)
      .filter(col("vec_id") % 7 === 3).count() == drop.size.toLong)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("InSet and broadcast anti-join exclusion shapes agree; null ids survive") {
    val dir = java.nio.file.Files.createTempDirectory("del_shapes").toString
    val rnd = new scala.util.Random(23)
    val data = (0 until 200).map { i =>
      val id: java.lang.Long = if (i % 50 == 49) null else i.toLong
      (id, Array.fill(dims)(rnd.nextFloat() * 10 - 5))
    }.toDF("vec_id", "embedding")
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = Array.fill(dims)(1.0f)
    def nullSafe(df: org.apache.spark.sql.DataFrame): Seq[(Any, Double)] =
      df.select(col("vec_id"), col("score")).collect()
        .map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.getDouble(1)))
        .sortBy(t => (-t._2, String.valueOf(t._1))).toSeq
    def serve() = nullSafe(ivf.search(spark, q, 200, nprobe = 4))
    // a search BEFORE the delete: its prepared scan must not outlive it
    assert(serve().size == 200)
    val drop = (0L until 200L).filter(_ % 3 == 1)
    ivf.delete(spark, "vec_id", drop)
    val inSet = serve()
    // force the broadcast id-set shape
    ivf.tuning = ivf.tuning.copy(deleteInSetMaxIds = 0)
    val anti = serve()
    assert(inSet == anti, "exclusion shape changed the result")
    // null-id rows can't be tombstoned: all 4 survive under both shapes;
    // the deletable matches are the 67 ids ≡1 (mod 3) minus the two
    // (49, 199) that are null in the table
    assert(spark.read.parquet(dir).filter(col("vec_id").isNull).count() == 4L)
    assert(inSet.size == 200 - (drop.size - 2), s"got ${inSet.size}")
    assert(inSet.count(_._1 == null) == 4, "a null-id row was excluded")
    // each shape keeps excluding on its warm prepared scan
    assert(serve() == anti)
    ivf.tuning = ivf.tuning.copy(deleteInSetMaxIds = 8192)
    assert(serve() == inSet)
    // after scrub the rows are physically gone: same result, both shapes
    assert(ivf.scrub(spark) == (drop.size - 2).toLong)
    assert(serve() == inSet)
    ivf.tuning = ivf.tuning.copy(deleteInSetMaxIds = 0)
    assert(serve() == inSet)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("tombstones are durable: a fresh load() excludes with no checkpoint") {
    val dir = java.nio.file.Files.createTempDirectory("del_durable").toString
    val data = mkData(240, 31)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    // no checkpoint between delete and load
    ivf.tuning = ivf.tuning.copy(manifestCheckpointEvery = Some(0))
    val drop = (0L until 240L).filter(_ % 5 == 2)
    ivf.delete(spark, "vec_id", drop)
    val fresh = IvfIndex.load(spark, dir)
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 3)
    assert(got(fresh.search(spark, q, 15, nprobe = 4)) ==
      bruteTopK(data, q, 15, drop.toSet))
    assert(fresh.tombstoneCount(spark) == drop.size.toLong)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("scrub removes rows physically, rewrites only affected files, keeps results") {
    val dir = java.nio.file.Files.createTempDirectory("del_scrub").toString
    val data = mkData(400, 41)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = queryVec(data, 5)
    // delete rows of ONE spatial cluster only (center 0: i % 4 == 0 and
    // i % 8 != 0 → half of center-0's rows) so some files hold no
    // tombstoned row and must survive the scrub untouched
    val drop = (0L until 400L).filter(i => i % 4 == 0 && i % 8 != 0)
    ivf.delete(spark, "vec_id", drop)
    val before = got(ivf.search(spark, q, 25, nprobe = 4))
    val filesBefore = spark.read.parquet(dir).inputFiles.toSet
    val affected = spark.read.parquet(dir)
      .withColumn("__f", input_file_name())
      .filter(col("vec_id").isin(drop: _*))
      .select("__f").distinct().collect().map(_.getString(0)).toSet
    assert(affected.nonEmpty && affected.size < filesBefore.size,
      "fixture must leave some files untouched")
    val removed = ivf.scrub(spark)
    assert(removed == drop.size.toLong)
    assert(ivf.tombstoneCount(spark) == 0L)
    // physically gone
    assert(spark.read.parquet(dir)
      .filter(col("vec_id").isin(drop: _*)).count() == 0L)
    assert(spark.read.parquet(dir).count() == 400L - drop.size)
    // only the affected files were rewritten
    val filesAfter = spark.read.parquet(dir).inputFiles.toSet
    assert((filesBefore -- affected).subsetOf(filesAfter),
      "scrub rewrote a file that held no tombstoned row")
    assert((filesAfter & affected).isEmpty, "an affected file survived")
    // serving identical before/after scrub, from this handle AND a
    // fresh load (post-scrub manifest + census)
    assert(got(ivf.search(spark, q, 25, nprobe = 4)) == before)
    val fresh = IvfIndex.load(spark, dir)
    fresh.tuning = fresh.tuning.copy(exactScanFraction = 0.0)
    assert(fresh.censusNow0.isDefined,
      "scrub's saveManifest must persist a census valid at the new epoch")
    assert(got(fresh.search(spark, q, 25, nprobe = 4)) == before)
    // idempotent: nothing left to scrub
    assert(ivf.scrub(spark) == 0L)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a crashed scrub's journal replays on load(): moves + drops + tombstone clear") {
    val dir = java.nio.file.Files.createTempDirectory("del_crash").toString
    val data = mkData(200, 53)
    val ivf = VectorSearch.buildIvf(data, "embedding", 2, dir,
      sampleFraction = 1.0)
    val drop = (0L until 200L).filter(_ % 2 == 0) // center-0 rows (i%4∈{0,2})
    ivf.delete(spark, "vec_id", drop)
    // construct the crash state a real scrub would leave at its commit
    // point: survivors staged, journal committed, NOTHING moved yet
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rootQ = fs.makeQualified(new Path(dir)).toUri.getPath
    def rel(p: String) = {
      val s = fs.makeQualified(new Path(new java.net.URI(p))).toUri.getPath
      s.substring(rootQ.length + 1)
    }
    val affected = spark.read.parquet(dir)
      .withColumn("__f", input_file_name())
      .filter(col("vec_id").isin(drop: _*))
      .select(col("__f"), col("__cluster")).distinct().collect()
      .map(r => (rel(r.getString(0)), r.getInt(1)))
    val stage = s"$dir/${IvfIndex.ScrubStageDir}"
    spark.read.option("basePath", dir)
      .parquet(affected.map(f => s"$dir/${f._1}").distinct: _*)
      .filter(!col("vec_id").isin(drop: _*))
      .write.option("compression", "snappy")
      .partitionBy("__cluster").parquet(stage)
    val moves = fs.listStatus(new Path(stage)).filter(_.isDirectory).flatMap {
      d =>
        val c = d.getPath.getName.stripPrefix("__cluster=")
        fs.listStatus(d.getPath).filter(_.isFile)
          .filterNot(st => st.getPath.getName.startsWith("_"))
          .map(st => (rel(st.getPath.toString),
            s"__cluster=$c/scrub-test-${st.getPath.getName}"))
    }
    val lines = Seq(IvfIndex.ScrubJournalHeader) ++
      moves.map(m => s"MOV\t${m._1}\t${m._2}") ++
      affected.map(f => s"OLD\t${f._1}")
    val out = fs.create(new Path(dir, IvfIndex.ScrubJournal), true)
    out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    // the "crash": nothing moved. load() must complete the scrub.
    val fresh = IvfIndex.load(spark, dir)
    assert(!fs.exists(new Path(dir, IvfIndex.ScrubJournal)), "journal gone")
    assert(!fs.exists(new Path(dir, IvfIndex.ScrubStageDir)), "stage gone")
    assert(!fs.exists(new Path(dir, IvfIndex.DeletesDir)), "tombstones gone")
    assert(spark.read.parquet(dir)
      .filter(col("vec_id").isin(drop: _*)).count() == 0L)
    assert(spark.read.parquet(dir).count() == 200L - drop.size)
    assert(fresh.tombstoneCount(spark) == 0L)
    // and replay is idempotent when re-run against the completed state
    IvfIndex.replayScrub(fs, new Path(dir)) // no journal: no-op
    assert(spark.read.parquet(dir).count() == 200L - drop.size)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("delete excludes on sq8 and pq layouts (both serving phases)") {
    val data = mkData(300, 71)
    val drop = (0L until 300L).filter(_ % 6 == 1)
    val q = queryVec(data, 9)
    Seq("sq8", "pq").foreach { mode =>
      val dir = java.nio.file.Files.createTempDirectory(s"del_$mode").toString
      val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
        sampleFraction = 1.0, storage = mode,
        pqIdCol = if (mode == "pq") "vec_id" else null)
      ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
      val before = got(ivf.search(spark, q, 40, nprobe = 4))
      ivf.delete(spark, "vec_id", drop)
      val after = got(ivf.search(spark, q, 40, nprobe = 4))
      assert(after.forall(t => !drop.contains(t._1)),
        s"$mode: a tombstoned id leaked")
      // the survivors rank exactly as they did pre-delete
      val expect = before.filterNot(t => drop.contains(t._1))
      assert(after.take(expect.size).map(_._1) ==
        expect.map(_._1).take(after.size),
        s"$mode: survivor ranking changed under exclusion")
      // scrub keeps the layout's storage mode and the results
      assert(ivf.scrub(spark) == drop.size.toLong)
      assert(got(ivf.search(spark, q, 40, nprobe = 4)) == after ||
        got(ivf.search(spark, q, 40, nprobe = 4)).map(_._1) ==
          after.map(_._1), s"$mode: scrub changed the serving result")
      FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("tombstone exclusion adds no shuffle to the probe plan") {
    val dir = java.nio.file.Files.createTempDirectory("del_plan").toString
    val data = mkData(300, 81)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    ivf.delete(spark, "vec_id", (0L until 300L).filter(_ % 5 == 2))
    val q = queryVec(data, 3)
    // the plan search runs per cell (the top-k heap is the job's own
    // per-partition function, not a plan operator)
    // InSet shape: the NOT-IN rides inside the scan's filter — scan +
    // filter + project, zero exchanges of any kind
    assert(ivf.search(spark, q, 10, nprobe = 4).count() == 10L)
    val inSetPlan = ivf.preparedCellPlan(spark, None, 0).toString
    assert(inSetPlan.contains("Filter") && inSetPlan.contains("INSET"),
      inSetPlan)
    assert(!inSetPlan.contains("ShuffleExchange"), inSetPlan)
    assert(!inSetPlan.contains("BroadcastExchange"), inSetPlan)
    // broadcast id-set shape: the test against the broadcast set rides
    // in the filter too — zero exchanges of any kind, and every cell's
    // plan reads the ONE broadcast of this tombstone snapshot
    ivf.tuning = ivf.tuning.copy(deleteInSetMaxIds = 0)
    assert(ivf.search(spark, q, 10, nprobe = 4).count() == 10L)
    val cellPlans = Seq(0, 1, 2, 3, VectorSearch.TailCell)
      .map(ivf.preparedCellPlan(spark, None, _))
    val antiPlan = cellPlans.head.toString
    assert(antiPlan.contains("Filter") &&
      antiPlan.contains("in_broadcast_ids"), antiPlan)
    assert(!antiPlan.contains("Exchange"), antiPlan)
    val broadcasts = cellPlans.map(_.collect { case p => p.expressions }
      .flatten.flatMap(_.collect {
        case b: graft.functions.InBroadcastIds => b.ids.id
      }).toSet)
    assert(broadcasts.forall(_.nonEmpty) && broadcasts.flatten.toSet.size == 1,
      broadcasts)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("deletes fail CLOSED: a corrupt tombstone store refuses to serve") {
    val dir = java.nio.file.Files.createTempDirectory("del_closed").toString
    val data = mkData(100, 91)
    val ivf = VectorSearch.buildIvf(data, "embedding", 2, dir,
      sampleFraction = 1.0)
    ivf.delete(spark, "vec_id", Seq(1L, 2L, 3L))
    // corrupt the tombstone store: a parquet-suffixed file that isn't one
    val delDir = new Path(dir, IvfIndex.DeletesDir)
    val fs = delDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(delDir, "part-corrupt.parquet"), true)
    out.write("not parquet".getBytes("UTF-8")); out.close()
    // a FRESH handle must refuse to search rather than silently serving
    // rows a compliance delete removed — exclusion fails closed
    val loaded = IvfIndex.load(spark, dir)
    val q = queryVec(data, 5)
    intercept[Exception] {
      loaded.search(spark, q, 10, nprobe = 2).collect()
    }
    // the handle that already holds the set keeps serving (cached)
    assert(ivf.search(spark, q, 10, nprobe = 2).count() == 10L)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("append of a tombstoned id stays excluded until scrub (id-level semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("del_reappend").toString
    val data = mkData(200, 93)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    ivf.delete(spark, "vec_id", Seq(7L))
    // re-append a row with the deleted id: the tombstone is BY ID, so
    // the new row is excluded too — delete() is a compliance removal,
    // not an upsert; re-admitting an id goes scrub-then-append
    val row = data.filter(col("vec_id") === 7).collect().head
    ivf.append(Seq((7L, row.getInt(1),
      row.getSeq[Float](2).toArray)).toDF("vec_id", "cat", "embedding"),
      "embedding")
    val q = queryVec(data, 3)
    val got0 = got(ivf.search(spark, q, 200, nprobe = 4))
    assert(!got0.exists(_._1 == 7L), "tombstoned id served after re-append")
    // scrub removes BOTH physical copies and clears the tombstone;
    // a subsequent append re-admits the id
    assert(ivf.scrub(spark) == 2L)
    ivf.append(Seq((7L, row.getInt(1),
      row.getSeq[Float](2).toArray)).toDF("vec_id", "cat", "embedding"),
      "embedding")
    val got1 = got(ivf.search(spark, q, 200, nprobe = 4))
    assert(got1.count(_._1 == 7L) == 1, "re-admitted id must serve once")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("post-scrub occupancy: a fully-deleted category serves empty joblessly") {
    val dir = java.nio.file.Files.createTempDirectory("del_occ").toString
    val data = mkData(300, 61)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val catIds = data.filter(col("cat") === 2).select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    ivf.delete(spark, "vec_id", catIds)
    // BEFORE scrub: counts over-count (tombstones included) but serving
    // is already exact — the probe runs and finds nothing
    assert(ivf.search(spark, queryVec(data, 1), 10, nprobe = 4,
      Some(col("cat") === 2)).count() == 0L)
    assert(ivf.scrub(spark) == catIds.size.toLong)
    // AFTER scrub: occupancy holds a true zero for cat=2
    assert(ivf.search(spark, queryVec(data, 1), 10, nprobe = 4,
      Some(col("cat") === 2)).count() == 0L)
    assert(ivf.search(spark, queryVec(data, 1), 10, nprobe = 4,
      Some(col("cat") === 1)).count() == 10L)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("filtered probe plans WIDEN under tombstones concentrated in top-ranked cells (r17)") {
    val dir = java.nio.file.Files.createTempDirectory("del_widen").toString
    val rnd = new scala.util.Random(71)
    val cA = Array.fill(dims)(5.0f)
    val cB = Array.fill(dims)(-5.0f)
    val cC = Array.tabulate(dims)(i => if (i % 2 == 0) 5.0f else -5.0f)
    def near(c: Array[Float]) = c.map(v => v + rnd.nextFloat() - 0.5f)
    // cell A: 24 rows matching cat=1 (+ 30 filler); cell B: 20 matching
    // (+ 30 filler); cell C: filler only. Query sits at A's center, so
    // the ranked match-bearing list is [A, B].
    val rows =
      (0 until 24).map(i => (i.toLong, 1, near(cA))) ++
      (100 until 130).map(i => (i.toLong, 0, near(cA))) ++
      (200 until 220).map(i => (i.toLong, 1, near(cB))) ++
      (300 until 330).map(i => (i.toLong, 0, near(cB))) ++
      (400 until 440).map(i => (i.toLong, 0, near(cC)))
    val data = rows.toDF("vec_id", "cat", "embedding")
    val ivf = VectorSearch.buildIvf(data, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    // isolate the >= k widening loop from thin-support and from the
    // exact switch
    ivf.tuning = ivf.tuning.copy(thinFactor = 0.0, exactScanFraction = 0.0)
    val q = cA
    val f = col("cat") === 1
    // tombstone-free plan: A's 24 matches cover the k=10 target alone
    val planBefore = ivf.probePlan(spark, Seq(q), 10, 1, Some(f),
      exactFallback = true).head
    assert(planBefore.length == 1, s"pre-delete plan was $planBefore")
    // delete 20 of A's 24 matching rows — inclusive counts still read 24
    val drop = (0L until 20L)
    assert(ivf.delete(spark, "vec_id", drop) == 20L)
    // the persisted planning companion: per-cell counts keyed to the set
    val ct = IvfIndex.readCellTombs(spark, dir)
    assert(ct.exists { case (nids, _, m) =>
      nids == 20L && m.valuesIterator.sum == 20L && m.size == 1 })
    // live lower bound at A is 4 < k — the plan must widen into B
    val planAfter = ivf.probePlan(spark, Seq(q), 10, 1, Some(f),
      exactFallback = true).head
    assert(planAfter.length == 2,
      s"post-delete plan must widen past the tombstoned cell: $planAfter")
    // and the served results are the exact live top-10 (4 from A + 6
    // from B) — the tombstone-inclusive plan returned only A's 4
    val expect = bruteTopK(data.filter(f), q, 10, drop.toSet)
    assert(got(ivf.search(spark, q, 10, nprobe = 1, Some(f))) == expect)
    // a FRESH process re-arms the persisted counts (no recompute scan
    // needed) and plans/serves identically
    val fresh = IvfIndex.load(spark, dir)
    fresh.tuning = fresh.tuning.copy(thinFactor = 0.0, exactScanFraction = 0.0)
    assert(fresh.probePlan(spark, Seq(q), 10, 1, Some(f),
      exactFallback = true).head.length == 2)
    assert(got(fresh.search(spark, q, 10, nprobe = 1, Some(f))) == expect)
    // an append under active tombstones re-keys the counts (epoch moved)
    // and plans stay safe afterwards
    val extra = (900L, 1, near(cB))
    ivf.append(Seq(extra).toDF("vec_id", "cat", "embedding"), "embedding")
    assert(ivf.probePlan(spark, Seq(q), 10, 1, Some(f),
      exactFallback = true).head.length == 2)
    assert(got(ivf.search(spark, q, 10, nprobe = 1, Some(f))) ==
      bruteTopK(
        data.union(Seq(extra).toDF("vec_id", "cat", "embedding")).filter(f),
        q, 10, drop.toSet))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("delete(Seq) gates the renderings-agree set: value types and column types") {
    val dir = java.nio.file.Files.createTempDirectory("del_gate").toString
    val data = mkData(60, 73)
    val ivf = VectorSearch.buildIvf(data, "embedding", 2, dir,
      sampleFraction = 1.0)
    // a Double VALUE renders "3.0" under String.valueOf but the long
    // column casts to "3" — silent no-op; must refuse loudly
    val e1 = intercept[IllegalArgumentException] {
      ivf.delete(spark, "vec_id", Seq(3.0))
    }
    assert(e1.getMessage.contains("DataFrame overload"))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    // a non-integral id COLUMN (timestamp/double) must route to the
    // DataFrame overload even when the passed values look safe
    val dir2 = java.nio.file.Files.createTempDirectory("del_gate2").toString
    val data2 = mkData(60, 74)
      .withColumn("vec_id", col("vec_id").cast("double"))
    val ivf2 = VectorSearch.buildIvf(data2, "embedding", 2, dir2,
      sampleFraction = 1.0)
    val e2 = intercept[IllegalArgumentException] {
      ivf2.delete(spark, "vec_id", Seq("3.0"))
    }
    assert(e2.getMessage.contains("DataFrame overload"))
    // the DataFrame overload canonicalizes THROUGH Spark: double ids
    // tombstone correctly
    ivf2.tuning = ivf2.tuning.copy(exactScanFraction = 0.0)
    val q2 = queryVec(data2.withColumn("vec_id", col("vec_id").cast("long")), 7)
    assert(ivf2.delete(spark, "vec_id",
      Seq(3.0, 10.0).toDF("id")) == 2L)
    val servedIds = ivf2.search(spark, q2, 60, nprobe = 2)
      .select(col("vec_id")).collect().map(_.getDouble(0)).toSet
    assert(servedIds.size == 58 && !servedIds(3.0) && !servedIds(10.0))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir2))
    // CROSS-type ids frame (r17 review find): a DOUBLE ids frame
    // against a LONG id column would tombstone "3.0" while serving
    // matches "3" — the overload must canonicalize through the INDEX
    // column's type so both sides share one rendering
    val dir3 = java.nio.file.Files.createTempDirectory("del_gate3").toString
    val data3 = mkData(60, 75)
    val ivf3 = VectorSearch.buildIvf(data3, "embedding", 2, dir3,
      sampleFraction = 1.0)
    ivf3.tuning = ivf3.tuning.copy(exactScanFraction = 0.0)
    assert(ivf3.delete(spark, "vec_id",
      Seq(3.0, 10.0).toDF("id")) == 2L)
    val q3 = queryVec(data3, 7)
    val served3 = ivf3.search(spark, q3, 60, nprobe = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(served3.size == 58 && !served3(3L) && !served3(10L),
      "a cross-type ids frame must still exclude the rows")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir3))
  }

  test("delete(DataFrame): a 1M-id distributed delete, dedup across batches, budget gate") {
    val dir = java.nio.file.Files.createTempDirectory("del_big").toString
    // ids 999000..1000999: the 1M-id delete range [0, 1M) tombstones the
    // 1000 present ids below 1M and leaves 1000 survivors above it
    val data = mkData(2000, 77)
      .withColumn("vec_id", col("vec_id") + lit(999000L))
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    // batch 1: half the range; batch 2: the full range — only the
    // un-tombstoned half is fresh (distributed anti-join dedup)
    assert(ivf.delete(spark, "vec_id",
      spark.range(0L, 500000L).toDF("id")) == 500000L)
    assert(ivf.delete(spark, "vec_id",
      spark.range(0L, 1000000L).toDF("id")) == 500000L)
    assert(ivf.tombstoneCount(spark) == 1000000L)
    // serving excludes every sub-1M id through the broadcast id-set
    // shape (1M ids >> deleteInSetMaxIds) and keeps every survivor
    val q = queryVec(data, 999007L)
    val served = got(ivf.search(spark, q, 2000, nprobe = 4))
    assert(served.length == 1000 && served.forall(_._1 >= 1000000L))
    // a fresh load sees the same set (durability at this volume)
    assert(IvfIndex.load(spark, dir).tombstoneCount(spark) == 1000000L)
    // scrub removes the 1000 physical rows and clears the set
    assert(ivf.scrub(spark) == 1000L)
    assert(ivf.tombstoneCount(spark) == 0L)
    assert(spark.read.parquet(dir).count() == 1000L)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    // the driver-resident budget refuses loudly past maxTombstoneIds
    val dir3 = java.nio.file.Files.createTempDirectory("del_budget").toString
    val ivf3 = VectorSearch.buildIvf(mkData(60, 79), "embedding", 2, dir3,
      sampleFraction = 1.0)
    ivf3.tuning = ivf3.tuning.copy(maxTombstoneIds = 100)
    val e = intercept[IllegalArgumentException] {
      ivf3.delete(spark, "vec_id", spark.range(0L, 200L).toDF("id"))
    }
    assert(e.getMessage.contains("maxTombstoneIds"))
    val e2 = intercept[IllegalArgumentException] {
      ivf3.delete(spark, "vec_id", (0L until 200L))
    }
    assert(e2.getMessage.contains("maxTombstoneIds"))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir3))
  }
}
