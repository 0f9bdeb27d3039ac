package graft

import graft.operators.{Quantize, VectorSearch}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Resident IVF cells: a compiled search scan reads each cell's rows
  * decoded once per snapshot and kept in the block manager, named
  * `graft.ivf.cell[<path>#<cell>]`.
  *
  * Pinned here: (1) warm searches over resident rows equal the exact
  * top-k of the live rows, for float and sq8 layouts, over several
  * filters, and the compiled plan reads the resident rows, not parquet;
  * (2) a delete reuses the resident rows — the ids are excluded on top
  * and no RDD is persisted anew; (3) compactTail, scrub and refresh()
  * release the superseded snapshot's cells and appendTail, which writes
  * only the tail (never resident), passes them on, so only the current
  * snapshot's cells stay persisted, and a scan taken before a write
  * never persists the old snapshot's cells; (4) rows
  * lost from memory are recomputed from parquet with identical results;
  * (5) a cell whose first job did not store it goes back to parquet.
  */
class ResidentCellSpec extends SparkSpec {
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

  private def queryVec(df: DataFrame, id: Long) =
    df.filter(col("vec_id") === id).select(col("embedding"))
      .head().getSeq[Float](0).toArray

  private def got(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("vec_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1))
      .toSeq

  /** The exact top-k of the index's stored rows that are not `dropped`
    * (float layouts).
    */
  private def exact(dir: String, q: Array[Float], k: Int,
      filter: Option[Column], dropped: Seq[Long] = Nil): Seq[(Long, Double)] =
    got(VectorSearch.topK(
      spark.read.parquet(dir).filter(!col("vec_id").isin(dropped: _*)),
      "__vec", q, k, filter, Seq("vec_id")))

  /** Ids of the persisted resident-cell RDDs of the index at `dir`. */
  private def resident(dir: String): Set[Int] = residentByCell(dir).values.toSet

  /** The persisted resident-cell RDD ids of the index at `dir` by cell
    * (never two for one cell).
    */
  private def residentByCell(dir: String): Map[Int, Int] = {
    val byCell = spark.sparkContext.getPersistentRDDs.values
      .filter(r => r.name != null && r.name.startsWith(s"graft.ivf.cell[$dir#"))
      .map(r => r.name.stripPrefix(s"graft.ivf.cell[$dir#").stripSuffix("]")
        .toInt -> r.id).toSeq
    assert(byCell.map(_._1).distinct.size == byCell.size,
      s"two resident RDDs for one cell: $byCell")
    byCell.toMap
  }

  private val filters: Seq[Option[Column]] = Seq(
    Some(col("cat") === 0),
    Some(col("vec_id") > 120L),
    Some(col("cat") =!= 1 && col("vec_id") % 2 === 0))

  Seq("float", "sq8").foreach { storage =>
    test(s"$storage: warm resident searches equal topK over the live rows") {
      val dir = java.nio.file.Files.createTempDirectory(s"resident_$storage").toString
      val data = mkData(300, 5)
      val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
        sampleFraction = 1.0, storage = storage)
      val q = queryVec(data, 7)
      // the live rows as the layout stores them: the float vector, or
      // the sq8 codes dequantized
      val live =
        if (storage == "float") data
        else Quantize.quantize(data, "embedding").withColumn("embedding",
          Quantize.dequantize(col("__codes"), col("__qmin"), col("__qmax")))
      filters.foreach { f =>
        val want = got(VectorSearch.topK(live, "embedding", q, 20, f,
          Seq("vec_id")))
        // the first search reads parquet, the second compiles the cells
        // and fills them, the third reads them resident
        (1 to 3).foreach { i =>
          val g = got(ivf.search(spark, q, 20, nprobe = 4, filter = f))
          if (storage == "float") assert(g == want, s"$f search $i")
          else {
            assert(g.map(_._1) == want.map(_._1), s"$f search $i")
            g.zip(want).foreach { case ((_, gs), (_, ws)) =>
              assert(math.abs(gs - ws) <= 1e-4 * math.max(1.0, math.abs(ws)),
                s"$f search $i: algebraic score $gs != dequantized dot $ws")
            }
          }
        }
      }
      // one resident RDD per cell (the tail reads parquet), every
      // partition in memory, shared by all three filters
      val rdds = spark.sparkContext.getPersistentRDDs.values
        .filter(r => resident(dir).contains(r.id)).toSeq
      assert(residentByCell(dir).keySet == (0 until 4).toSet)
      assert(rdds.forall(r => r.getNumPartitions > 0 &&
        org.apache.spark.sql.graft.Bridge.storedWhole(r)), rdds.mkString("\n"))
      // the compiled scan reads the resident rows, not the files
      val plan = ivf.preparedCellPlan(spark, filters.head, 0).toString
      assert(plan.contains("ExistingRDD") && !plan.contains("FileScan"), plan)
      FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("a delete after residency excludes the ids and persists nothing new") {
    val dir = java.nio.file.Files.createTempDirectory("resident_del").toString
    val data = mkData(300, 11)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    val q = queryVec(data, 7)
    val f = filters(1)
    (1 to 2).foreach(_ => ivf.search(spark, q, 20, nprobe = 4, filter = f))
    val before = resident(dir)
    assert(before.nonEmpty)
    val drop = got(ivf.search(spark, q, 20, nprobe = 4, filter = f))
      .map(_._1).take(5)
    ivf.delete(spark, "vec_id", drop)
    (1 to 3).foreach { i =>
      val g = got(ivf.search(spark, q, 20, nprobe = 4, filter = f))
      assert(g.map(_._1).intersect(drop).isEmpty, s"search $i served a deleted id")
      assert(g == exact(dir, q, 20, f, drop), s"search $i")
    }
    assert(resident(dir) == before, "the delete persisted new cell rows")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("writes and refresh() leave only the current snapshot's cells persisted") {
    val dir = java.nio.file.Files.createTempDirectory("resident_life").toString
    val data = mkData(240, 31)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    val q = queryVec(data, 3)
    var dropped = Seq.empty[Long]
    def warm(): Seq[(Long, Double)] =
      (1 to 2).map(_ => got(ivf.search(spark, q, 15, nprobe = 4))).last
    assert(warm() == exact(dir, q, 15, None))
    var prior = residentByCell(dir)
    assert(prior.keySet == (0 until 4).toSet)
    val tail = mkData(20, 77).withColumn("vec_id", col("vec_id") + 1000L)
    val steps: Seq[(String, () => Unit)] = Seq(
      "appendTail" -> (() => { ivf.appendTail(tail, "embedding"); () }),
      "compactTail" -> (() => { ivf.compactTail(spark); () }),
      "scrub" -> (() => {
        dropped = Seq(3L, 4L, 1005L)
        ivf.delete(spark, "vec_id", dropped)
        ivf.scrub(spark); ()
      }),
      "refresh" -> (() => ivf.refresh()))
    steps.foreach { case (name, step) =>
      step()
      // a tail append writes only the tail's files: the resident cells
      // stay and pass to the next snapshot
      val kept = if (name == "appendTail") prior else Map.empty[Int, Int]
      assert(residentByCell(dir) == kept,
        s"$name left the superseded snapshot's cells persisted")
      assert(warm() == exact(dir, q, 15, None, dropped), name)
      val now = residentByCell(dir)
      assert(now.keySet == prior.keySet, name)
      if (name == "appendTail") assert(now == prior, name)
      else assert(now.values.toSet.intersect(prior.values.toSet).isEmpty, name)
      prior = now
    }
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a scan taken before a write never persists the old snapshot's cells") {
    val dir = java.nio.file.Files.createTempDirectory("resident_race").toString
    val data = mkData(240, 23)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    val q = queryVec(data, 5)
    def batch(seed: Int, from: Long) =
      mkData(10, seed).withColumn("vec_id", col("vec_id") + from)
    def plan(ps: graft.operators.PreparedScan, c: Int) =
      ps.cell(c).df.queryExecution.executedPlan.toString
    (1 to 2).foreach(_ => ivf.search(spark, q, 15, nprobe = 4))
    val filled = residentByCell(dir)
    assert(filled.keySet == (0 until 4).toSet)
    // a search that planned before a tail append compiles its cells after
    // it: a cell reuses the rows that carry over, the tail reads parquet
    val beforeTail = ivf.preparedScan(spark, filters.head)
    ivf.appendTail(batch(61, 1000L), "embedding")
    assert(plan(beforeTail, 0).contains("ExistingRDD"))
    assert(plan(beforeTail, VectorSearch.TailCell).contains("FileScan"))
    assert(residentByCell(dir) == filled)
    // after any other write the old snapshot's cells are all gone
    val beforeAppend = ivf.preparedScan(spark, filters(1))
    ivf.append(batch(62, 2000L), "embedding")
    assert(resident(dir).isEmpty)
    val p0 = plan(beforeAppend, 0)
    assert(resident(dir).isEmpty, "the superseded snapshot's cell was persisted")
    assert(p0.contains("FileScan") && !p0.contains("ExistingRDD"), p0)
    // the current snapshot still becomes resident
    (1 to 2).foreach(_ => ivf.search(spark, q, 15, nprobe = 4))
    assert(residentByCell(dir).keySet == (0 until 4).toSet)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a cell its first job did not store is served from parquet after") {
    val dir = java.nio.file.Files.createTempDirectory("resident_refused").toString
    val data = mkData(300, 47)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    ivf.residencyRefused = true
    val q = queryVec(data, 11)
    val f = filters(1)
    val want = exact(dir, q, 20, f)
    // search 2 compiles the cells over resident rows and finds them not
    // stored; search 3 recompiles them over parquet
    (1 to 4).foreach { i =>
      assert(got(ivf.search(spark, q, 20, nprobe = 4, filter = f)) == want,
        s"search $i")
      if (i >= 2) assert(resident(dir).isEmpty, s"search $i kept cells persisted")
    }
    val plan = ivf.preparedCellPlan(spark, f, 0).toString
    assert(plan.contains("FileScan") && !plan.contains("ExistingRDD"), plan)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("cells lost from memory are recomputed from parquet, results identical") {
    val dir = java.nio.file.Files.createTempDirectory("resident_evict").toString
    val data = mkData(300, 41)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0)
    val q = queryVec(data, 9)
    val f = filters(2)
    (1 to 2).foreach(_ => ivf.search(spark, q, 20, nprobe = 4, filter = f))
    val warm = got(ivf.search(spark, q, 20, nprobe = 4, filter = f))
    assert(warm == exact(dir, q, 20, f))
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => resident(dir).contains(r.id))
      .foreach(_.unpersist(blocking = true))
    assert(resident(dir).isEmpty)
    (1 to 2).foreach { i =>
      assert(got(ivf.search(spark, q, 20, nprobe = 4, filter = f)) == warm,
        s"recomputed search $i")
    }
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
