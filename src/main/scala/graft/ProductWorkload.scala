package graft

import graft.sources.ProductGen
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, SparkSession}

/** The reference's product-table workload SHAPE, shared by every harness
  * that measures it (`Bench` at sf0.1; the committed sf1 points,
  * bench_history/BENCH_scale_sf1_r*.json, ran the same code): the scale
  * comparisons in SCALE.md are only valid if every point runs the
  * identical layout rules and selectivity predicates, so they live in
  * exactly one place.
  */
object ProductWorkload {

  /** Generate + embed + write the product table, partitioned by the filter
    * column so selective reads prune directories (reference README.md:64).
    * The base columns are repartitioned by (category, weighted salt) BEFORE
    * the embedding step: the shuffle moves only ~1 KB of text per row, the
    * embed compute stays balanced across tasks (no task owns all of Books'
    * 41%), and the partitioned write emits ~one file per salt instead of
    * one per (task × category). Salt count = 4× cores, NOT cores: a
    * category's file count caps the read parallelism of any scan filtered
    * to it (one ~20 MB file = one row group = one task), and at 1× cores
    * the 4%-weight Computers category got 2 files — measured 4-9× slower
    * selective top-k (the r2 read_sel regression). At 4× cores every tier
    * keeps all cores busy and total files stay bounded (~95 at sf0.1);
    * the same sizing rule at cluster scale: files per category ≥ the
    * parallelism you want for a single-category scan.
    */
  def writeIndexed(spark: SparkSession, nProducts: Long, dims: Int,
      nCpus: Int, path: String): Unit = {
    val baseCols = ProductGen.baseColumns(
      spark.range(0, nProducts, 1, nCpus).toDF("id"))
    val balanced = baseCols.repartition(4 * nCpus, col("main_category"),
      ProductGen.categorySalt(col("id"), col("main_category"), 4 * nCpus))
    ProductGen.withDerived(balanced, dims)
      .select(ProductGen.schema(dims).fieldNames.map(col).toIndexedSeq: _*)
      // stats column of the index LAYOUT (not the product schema): the
      // per-row L2 norm, 8 bytes against ~11 KB of vector payload, so
      // norm-level profiling (Profile.embeddingStats normCol path) reads
      // ~0.1% of the table instead of scanning every vector — at the
      // reference's 10M scale that is ~80 MB vs ~100 GB
      .withColumn("emb_norm", graft.functions.vec_norm(col("embedding")))
      .write.mode("overwrite").partitionBy("main_category")
      // r18 (guide §6): 8 MB data pages for this table — the embedding
      // cells are ~11 KB, so the default 1 MB page holds ~90 values and
      // every scan pays a page boundary (header + stats + decompressor
      // reset) per ~90 rows. The r18 write A/B in OPTIMIZATION_r18.md
      // (order-controlled, warmed, same bytes ±0.1%): reads never worse
      // across two rounds × four tiers, up to ~20% faster on the widest
      // tier; write wall 5.17 → 4.18 s at the half-size point.
      // Scale-independent: the knob is per-written-file, not per-core.
      .option("parquet.page.size", (8 * 1024 * 1024).toString)
      .parquet(path)
  }

  /** The four filtered-read selectivity tiers (reference README.md:80-83),
    * named by their approximate selectivity on the generated data.
    */
  def selPreds: Seq[(String, Column)] = Seq(
    "read_sel_0001" -> (col("average_rating") <= 3.0 &&
      col("rating_number") > 130 && col("main_category") === "Computers"),
    "read_sel_01" -> (col("average_rating") <= 3.5 &&
      col("rating_number") > 15 && col("main_category") === "Computers"),
    "read_sel_1" -> (col("average_rating") >= 3.5 &&
      col("rating_number") > 10 && col("main_category") === "Computers"),
    "read_sel_10" ->
      col("main_category").isin("Computers", "All Beauty", "Buy a Kindle"))
}
