package graft

import graft.operators.{Quantize, VectorSearch}
import org.apache.spark.sql.functions._

/** The r16 IVF-PQ storage-mode contract (`buildIvf(storage = "pq")`):
  * the data files hold everything sq8 holds PLUS an m-byte
  * product-quantization code column (`__pq`) — the phase-1
  * candidate-generation tier (Jégou et al. 2011; the FAISS IndexIVFPQ
  * layout is the public reference shape). Serving is two-phase: ADC
  * over the code column ranks a k·overfetch shortlist, phase 2 re-ranks
  * it sq8-exact, so returned SCORES are identical in kind to sq8 mode's
  * and PQ error moves recall only.
  *
  * Pinned here: (1) the layout (codes + __pq stored, no float column);
  * (2) kernel algebra — pq_encode equals a driver argmin per subspace
  * and pq_adc equals the LUT sum; (3) the two-phase result equals the
  * sq8-exact top-k whenever the shortlist covers it (deterministic on
  * this fixture) and phase 1 provably engaged; (4) load() round-trips
  * codebooks + id column and a loaded handle serves the same results;
  * (5) append() encodes its batch with the frozen codebooks; (6) pqFit
  * is deterministic.
  */
class PqIndexSpec extends SparkSpec {
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

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted

  test("pq layout: __pq + sq8 codes stored, float vector dropped; m from defaultPqM") {
    val dir = java.nio.file.Files.createTempDirectory("pq_layout").toString
    val ivf = VectorSearch.buildIvf(mkData(200, 3), "embedding", 4, dir,
      sampleFraction = 1.0, storage = "pq", pqIdCol = "vec_id")
    assert(ivf.quantized && ivf.pqMode)
    val written = spark.read.parquet(dir)
    val names = written.schema.fieldNames.toSet
    assert(names.contains("__pq") && names.contains("__codes") &&
      names.contains("__dist"))
    assert(!names.contains("__vec"))
    assert(written.schema("__pq").dataType.sql == "ARRAY<TINYINT>")
    val m = Quantize.defaultPqM(dims)
    assert(m == 2, s"defaultPqM(16) expected 2 (dsub 8), got $m")
    assert(Quantize.defaultPqM(2688) == 336 && Quantize.defaultPqM(384) == 48)
    assert(written.select(size(col("__pq"))).head().getInt(0) == m)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("pq_encode == driver argmin per subspace; pq_adc == LUT sum") {
    val rnd = new scala.util.Random(11)
    val sample = Array.fill(64)(Array.fill(dims)(rnd.nextFloat() * 4 - 2))
    val m = 4
    val cbs = Quantize.pqFit(sample, m, ksub = 8, iters = 5)
    val dsub = dims / m
    val df = sample.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "v")
    val got = df.select(col("vec_id"),
        graft.functions.pq_encode(col("v"), cbs).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    sample.zipWithIndex.foreach { case (v, i) =>
      val expect = (0 until m).map { j =>
        val off = j * dsub
        val dists = cbs(j).map { cv =>
          var d = 0.0; var t = 0
          while (t < dsub) {
            val e = v(off + t).toDouble - cv(t); d += e * e; t += 1
          }
          d
        }
        (dists.zipWithIndex.minBy { case (d, c) => (d, c) }._2 - 128).toByte
      }
      assert(got(i.toLong) == expect, s"row $i encode mismatch")
    }
    // ADC: score == sum of LUT entries == dot(query, reconstruction)
    val q = Array.fill(dims)(rnd.nextFloat())
    val lut = Quantize.pqLut(q, cbs, ksub = 8)
    val adc = df.select(col("vec_id"),
        graft.functions.pq_adc(
          graft.functions.pq_encode(col("v"), cbs), lut, 8).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    sample.zipWithIndex.foreach { case (v, i) =>
      val codes = got(i.toLong)
      val expect = (0 until m).map(j => lut(j * 8 + (codes(j) + 128))).sum
      assert(math.abs(adc(i.toLong) - expect) < 1e-12)
      // and the LUT sum IS the dot against the codebook reconstruction
      val recon = new Array[Float](dims)
      (0 until m).foreach { j =>
        val cv = cbs(j)(codes(j) + 128)
        (0 until dsub).foreach(t => recon(j * dsub + t) = cv(t))
      }
      val dot = (0 until dims).map(t => q(t).toDouble * recon(t)).sum
      assert(math.abs(adc(i.toLong) - dot) < 1e-9)
    }
  }

  test("two-phase pq search == sq8-exact top-k; phase 1 provably engaged") {
    val dir = java.nio.file.Files.createTempDirectory("pq_twophase").toString
    val data = mkData(300, 5)
    // 8 cells over 4 natural groups: nprobe 6 < 8 keeps the PROBE branch
    // (a full-cell plan answers via the storage-agnostic exact scan by
    // design) while still covering the query group's cells — the fixture
    // groups are ±5 patterns, so the true top-12 all share the query's
    // group and the plan's ranked cells contain them
    val ivf = VectorSearch.buildIvf(data, "embedding", 8, dir,
      sampleFraction = 1.0, storage = "pq", pqIdCol = "vec_id")
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0) // pin the probe path
    val q = Array.tabulate(dims)(i => if (i % 2 == 0) 5.0f else -5.0f)
    val p0 = ivf.pqPhase1Count
    val got = ids(ivf.search(spark, q, 12, nprobe = 6))
    assert(ivf.pqPhase1Count > p0, "PQ phase 1 did not engage")
    // ground truth: sq8-exact top-k over the dequantized stored corpus
    val idx = spark.read.parquet(dir)
    val recon = Quantize.dequantize(col("__codes"), col("__qmin"), col("__qmax"))
    val exact = idx.withColumn("s",
        graft.functions.vec_dot(recon, typedLit(q)))
      .orderBy(desc("s"), col("vec_id")).limit(12)
    assert(got == ids(exact), "two-phase result diverges from sq8-exact top-k")
    // multi-query path agrees with the single-query path
    val multi = ivf.searchMulti(spark, Seq(q), 12, nprobe = 6, "vec_id")
    val gotMulti = multi.select(col("vec_id")).collect()
      .map(_.getString(0).toLong).toSeq.sorted
    assert(gotMulti == got)
    // filtered: candidates obey the predicate
    val f = ivf.search(spark, q, 8, nprobe = 6, Some(col("cat") === 1))
    assert(f.select("cat").collect().forall(_.getInt(0) == 1))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("pq searchMulti masks each query to its own cells in both phases") {
    val dir = java.nio.file.Files.createTempDirectory("pq_multi").toString
    val ivf = VectorSearch.buildIvf(mkData(300, 5), "embedding", 4, dir,
      sampleFraction = 1.0, storage = "pq", pqIdCol = "vec_id")
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0) // pin the probe path
    val qs = Seq(Array.fill(dims)(5.0f), Array.fill(dims)(-5.0f),
      Array.tabulate(dims)(i => if (i % 2 == 0) 5.0f else -5.0f))
    // k = 100 exceeds a cell's 75 rows, so a query that leaked past its
    // own cell in either phase would pick up another query's rows
    val plan = ivf.probePlan(spark, qs, 100, 1, None, exactFallback = false)
    assert(plan.map(_.toSet).reduce(_ ++ _).size == qs.length,
      s"nprobe-1 probe sets are not disjoint: $plan")
    val p0 = ivf.pqPhase1Count
    val multi = ivf.searchMulti(spark, qs, 100, nprobe = 1, "vec_id",
      exactFallback = false).collect()
    assert(ivf.pqPhase1Count > p0, "PQ phase 1 did not engage")
    qs.zipWithIndex.foreach { case (q, i) =>
      val single = ivf.search(spark, q, 100, nprobe = 1, exactFallback = false)
        .select(col("vec_id").cast("string"), col("score")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq.sortBy(_._1)
      val got = multi.filter(_.getInt(0) == i)
        .map(r => (r.getString(3), r.getDouble(2))).toSeq.sortBy(_._1)
      assert(got.nonEmpty && got == single, s"query $i: $got vs $single")
    }
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("load() round-trips codebooks + id column; loaded handle serves identical results") {
    val dir = java.nio.file.Files.createTempDirectory("pq_load").toString
    val data = mkData(240, 7)
    val built = VectorSearch.buildIvf(data, "embedding", 3, dir,
      sampleFraction = 1.0, storage = "pq", pqIdCol = "vec_id")
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.pqMode, "loaded handle lost pq mode")
    assert(loaded.pqIdColNow == "vec_id")
    assert(loaded.pqCodebooksNow.length == built.pqCodebooksNow.length)
    loaded.pqCodebooksNow.zip(built.pqCodebooksNow).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
    val q = Array.fill(dims)(5.0f)
    built.tuning = built.tuning.copy(exactScanFraction = 0.0)
    loaded.tuning = loaded.tuning.copy(exactScanFraction = 0.0)
    assert(ids(loaded.search(spark, q, 10, nprobe = 3)) ==
      ids(built.search(spark, q, 10, nprobe = 3)))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("append() encodes its batch with the frozen codebooks") {
    val dir = java.nio.file.Files.createTempDirectory("pq_append").toString
    val ivf = VectorSearch.buildIvf(mkData(200, 9), "embedding", 3, dir,
      sampleFraction = 1.0, storage = "pq", pqIdCol = "vec_id")
    val batch = mkData(260, 9).filter(col("vec_id") >= 200)
    ivf.append(batch, "embedding")
    val written = spark.read.parquet(dir)
    assert(written.count() == 260)
    assert(written.filter(col("__pq").isNull).count() == 0,
      "appended rows must carry pq codes")
    // appended rows are searchable through the pq path
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = Array.fill(dims)(5.0f)
    val got = ivf.search(spark, q, 260, nprobe = 3)
    assert(got.count() == 260)
    FsUpDelete(dir)
  }

  private def FsUpDelete(dir: String): Unit =
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))

  test("pqFit is deterministic") {
    val rnd = new scala.util.Random(13)
    val sample = Array.fill(50)(Array.fill(dims)(rnd.nextFloat()))
    val a = Quantize.pqFit(sample, 4, ksub = 8, iters = 3)
    val b = Quantize.pqFit(sample, 4, ksub = 8, iters = 3)
    a.zip(b).foreach { case (x, y) =>
      x.zip(y).foreach { case (u, v) => assert(u.sameElements(v)) }
    }
  }
}
