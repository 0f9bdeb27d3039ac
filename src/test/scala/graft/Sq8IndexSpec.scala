package graft

import graft.operators.{Quantize, VectorSearch}
import org.apache.spark.sql.functions._

/** The r16 SQ8 storage-mode contract: an IVF index whose data files hold
  * per-row asymmetric int8 codes (array<tinyint> + range doubles)
  * instead of the float vector — ~4× fewer index bytes, the mode that
  * fits a 10M × 2688 corpus' only copy on this box's disk.
  *
  * Pinned here: (1) the layout (codes stored, no float column, __dist
  * present); (2) scoring semantics — the engine's algebraic score
  * equals the dot against the dequantized stored vector, and the search
  * result at full probe equals a brute-force top-k over the dequantized
  * corpus; (3) recall vs FLOAT-exact stays high on a clustered fixture;
  * (4) load() round-trips the storage mode through the manifest's data
  * schema (epoch-independent, like hasDistColumn); (5) append()
  * quantizes its batch to the index's own schema; (6) the assignment
  * kernel is not duplicated by project-collapse in the pre-write frame.
  */
class Sq8IndexSpec extends SparkSpec {
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

  test("sq8 layout: codes stored, float vector dropped, __dist present") {
    val dir = java.nio.file.Files.createTempDirectory("sq8_layout").toString
    val ivf = VectorSearch.buildIvf(mkData(200, 3), "embedding", 4, dir,
      sampleFraction = 1.0, storage = "sq8")
    assert(ivf.quantized, "built handle must know its storage mode")
    assert(ivf.hasDistColumn)
    val written = spark.read.parquet(dir)
    val names = written.schema.fieldNames.toSet
    assert(names.contains("__codes") && names.contains("__qmin") &&
      names.contains("__qmax") && names.contains("__dist"))
    assert(!names.contains("__vec"), "sq8 layout must not store the float vector")
    assert(written.schema("__codes").dataType.sql == "ARRAY<TINYINT>")
    assert(written.count() == 200)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("full-probe sq8 search == brute-force top-k over the dequantized corpus") {
    val dir = java.nio.file.Files.createTempDirectory("sq8_exact").toString
    val data = mkData(300, 5)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0, storage = "sq8")
    // probe path, not the exact-scan shortcut
    ivf.tuning = ivf.tuning.copy(exactScanFraction = 0.0)
    val q = data.filter(col("vec_id") === 7).select(col("embedding"))
      .head().getSeq[Float](0).toArray
    val got = ivf.search(spark, q, 25, nprobe = 4)
      .select(col("vec_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (-t._2, t._1))
    // oracle: quantize the corpus the same way, score the DEQUANTIZED
    // vectors in double, top-25
    val want = Quantize.quantize(data, "embedding")
      .withColumn("deq", Quantize.dequantize(
        col("__codes"), col("__qmin"), col("__qmax")))
      .select(col("vec_id"), col("deq")).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        var acc = 0.0
        var i = 0
        while (i < v.length) { acc += v(i).toDouble * q(i); i += 1 }
        (r.getLong(0), acc)
      }.sortBy(t => (-t._2, t._1)).take(25)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"sq8 ranking diverged from dequantized brute force")
    // score parity: the algebraic form vs the explicit dequantized dot —
    // equal to ~1e-6 relative (dequantize() casts each element to float;
    // the algebra keeps doubles end-to-end)
    got.zip(want).foreach { case ((_, gs), (_, ws)) =>
      assert(math.abs(gs - ws) <= 1e-4 * math.max(1.0, math.abs(ws)),
        s"algebraic score $gs != dequantized-dot $ws")
    }
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("sq8 recall vs FLOAT-exact baseline ≥ 0.95 at full probe") {
    val dir = java.nio.file.Files.createTempDirectory("sq8_recall").toString
    val data = mkData(400, 7)
    val ivf = VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0, storage = "sq8")
    val qs = data.filter(col("vec_id") < 3).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Float](2).toArray).toSeq
    val exact = VectorSearch.topKMulti(data, "embedding", qs, 20, "vec_id")
      .collect().groupBy(_.getInt(0))
      .map { case (k, rows) => k -> rows.map(_.getString(3)).toSet }
    val approx = ivf.searchMulti(spark, qs, 20, nprobe = 4, "vec_id")
      .collect().groupBy(_.getInt(0))
      .map { case (k, rows) => k -> rows.map(_.getString(3)).toSet }
    val recall = qs.indices.map { i =>
      val e = exact.getOrElse(i, Set.empty[String])
      if (e.isEmpty) 1.0
      else e.intersect(approx.getOrElse(i, Set.empty[String])).size.toDouble / e.size
    }.sum / qs.length
    assert(recall >= 0.95, s"sq8 recall vs float-exact $recall < 0.95")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("load() round-trips the storage mode; append() quantizes its batch") {
    val dir = java.nio.file.Files.createTempDirectory("sq8_load").toString
    val data = mkData(200, 9)
    VectorSearch.buildIvf(data, "embedding", 4, dir,
      sampleFraction = 1.0, storage = "sq8")
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.quantized,
      "load() must re-derive the storage mode from the persisted schema")
    assert(loaded.hasDistColumn)
    loaded.append(Seq((900L, 0, Array.fill(dims)(5.3f)))
      .toDF("vec_id", "cat", "embedding"), "embedding")
    // appended files carry the sq8 schema — a mixed-schema layout would
    // either fail this read or surface a __vec column
    val all = spark.read.parquet(dir)
    assert(!all.schema.fieldNames.contains("__vec"))
    assert(all.count() == 201)
    assert(ids(loaded.search(spark, Array.fill(dims)(5.0f), 201, nprobe = 4))
      .contains(900L), "appended row not served by the sq8 index")
    // storage mode survives ANOTHER load after the append checkpoint
    val re = VectorSearch.IvfIndex.load(spark, dir)
    assert(re.quantized && re.hasDistColumn)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("pre-write frame runs the assignment kernel exactly once (no project-collapse duplication)") {
    // a parquet-backed source, not a LocalRelation — Catalyst folds
    // projections over local data eagerly, which would leave no plan to
    // inspect
    val dir = java.nio.file.Files.createTempDirectory("sq8_plan").toString
    mkData(50, 11).write.mode("overwrite").parquet(dir)
    val data = spark.read.parquet(dir)
    val cents = Array(Array.fill(dims)(5.0f), Array.fill(dims)(-5.0f))
    val (asgCol, _) = VectorSearch.assignKernels(cents)
    val assigned = data
      .withColumn("__cluster", asgCol(col("embedding")))
      .withColumnRenamed("embedding", "__vec")
    val narrow = VectorSearch.sq8Narrow(assigned, cents)
    val plan = narrow.queryExecution.optimizedPlan.toString
    val kernelCount = "nearest_centroid\\(".r.findAllIn(plan).length
    assert(kernelCount == 1,
      s"assignment kernel appears $kernelCount times in the optimized plan:\n$plan")
    // and the frame itself is the sq8 shape
    val names = narrow.schema.fieldNames.toSet
    assert(names == Set("vec_id", "cat", "__cluster", "__dist",
      "__qmin", "__qmax", "__codes"))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
