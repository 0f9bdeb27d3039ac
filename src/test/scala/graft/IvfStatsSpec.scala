package graft

import graft.operators.VectorSearch
import org.apache.spark.sql.functions._

/** Pins the r17 Observation-sourced IVF cell stats against the r15 scan
  * path (forced by `graft.ivf.statsObserveMaxCells`, the session conf that
  * gates it), and the r18 `statsObserveArmed` admission rule. The task-RETRY case needs
  * task maxFailures ≥ 2 and runs as `graft.tools.ObsRetryProbe`
  * (`local[4,2]`) — the shared spec session's `local[4]` fails the whole
  * job on the first task failure.
  */
class IvfStatsSpec extends SparkSpec {
  import spark.implicits._

  private def mkDf(n: Int, d: Int) =
    spark.range(0, n, 1, 4).select(col("id"),
      array((0 until d).map(i =>
        (pmod(col("id") * (i + 3), lit(97)) / lit(97.0)).cast("float")): _*)
        .as("emb"))

  test("observe-path stats equal scan-path stats " +
      "(radii, rmsRadii, baselineDist, cellCounts)") {
    val base = java.nio.file.Files.createTempDirectory("ivfstats")
    def build(tag: String, cells: Int) =
      withConf(GraftConf.IvfStatsObserveMaxCells.key -> cells.toString) {
        VectorSearch.buildIvf(mkDf(2000, 8), "emb", 4, s"$base/ivf_$tag")
      }
    try {
      val obs = build("obs", 64)
      val scan = build("scan", 0)
      assert(obs.cellCounts.toSeq == scan.cellCounts.toSeq)
      def close(a: Double, b: Double) =
        (a.isNaN && b.isNaN) ||
          math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      assert(close(obs.baselineDist, scan.baselineDist),
        s"${obs.baselineDist} vs ${scan.baselineDist}")
      obs.radii.zip(scan.radii).foreach { case (a, b) =>
        assert(close(a, b), s"radii $a vs $b") }
      obs.rmsRadii.zip(scan.rmsRadii).foreach { case (a, b) =>
        assert(close(a, b), s"rmsRadii $a vs $b") }
      assert(obs.cellCounts.sum == 2000L)
    } finally FsUtil.deleteRecursively(base)
  }

  test("statsObserveArmed: cell ceiling and disable hook gate the observe " +
      "path; speculation is the documented structural exclusion") {
    val key = GraftConf.IvfStatsObserveMaxCells.key
    withConf(key -> "64") {
      assert(VectorSearch.statsObserveArmed(spark, 64))
      assert(!VectorSearch.statsObserveArmed(spark, 65))
    }
    withConf(key -> "0") {
      assert(!VectorSearch.statsObserveArmed(spark, 1))
    }
    // a malformed value fails naming the key, not as a bare parse error
    withConf(key -> "64k") {
      val e = intercept[IllegalArgumentException](
        VectorSearch.statsObserveArmed(spark, 1))
      assert(e.getMessage.contains(key), e.getMessage)
    }
    // the shared session runs without speculation; the speculation=true
    // branch reads the immutable SparkConf, so it is exercised by
    // inspection + ObsRetryProbe's scaladoc, not constructible here
    assert(!spark.sparkContext.getConf.getBoolean("spark.speculation",
      defaultValue = false))
  }
}
