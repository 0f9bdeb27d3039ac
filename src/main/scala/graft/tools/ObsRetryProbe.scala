package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Task-retry probe for the Observation-sourced IVF cell stats (r17
  * verdict task 3): builds the same small index through the observe path
  * (stats ride the assign_write job) and the scan path
  * (`graft.ivf.statsObserveMaxCells = 0`), with an injected ONE-TIME task failure
  * during each build, and asserts the two stats sources agree exactly —
  * i.e. a retried attempt's accumulator update is dropped, not merged.
  *
  * Runs under `local[4,2]` (task maxFailures = 2) because the specs'
  * shared `local[4]` session fails the whole job on the first task
  * failure — a retry can only be exercised here. The speculation hole
  * (two SUCCESSFUL attempts of one partition both merging) is closed
  * structurally instead: `statsObserveArmed` refuses the observe path
  * when `spark.speculation` is on (unit-pinned in IvfStatsSpec).
  *
  * Usage: sbt "runMain graft.tools.ObsRetryProbe"
  */
object ObsRetryProbe {
  // the injected failure fires at the first row of partition 3 in the
  // SECOND stage that evaluates it — stage one is the driver fit's sample
  // collect, stage two the assign_write job, so the retried task is a
  // write-stage task carrying the observed aggregates
  private val firstStage = new java.util.concurrent.atomic.AtomicInteger(-1)
  @volatile private var fired = false

  def main(args: Array[String]): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_obsretry")
    val builder = SparkSession.builder().master("local[4,2]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.local.dir", s"$base/spark-local")
    graft.GraftSession.defaults.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.prepare(spark)

    val failOnSecondStage = udf { (pid: Int, id: Long) =>
      if (pid == 3 && !fired) {
        val sid = org.apache.spark.TaskContext.get().stageId()
        firstStage.compareAndSet(-1, sid)
        if (sid != firstStage.get() && !fired) {
          fired = true
          throw new RuntimeException("injected task failure (retry probe)")
        }
      }
      id
    }.asNondeterministic()

    def mkDf(tag: String) = {
      firstStage.set(-1); fired = false
      spark.range(0, 1000, 1, 4)
        .select(failOnSecondStage(spark_partition_id(), col("id")).as("id"))
        .select(col("id"),
          array((0 until 8).map(i =>
            (pmod(col("id") * (i + 3), lit(97)) / lit(97.0))
              .cast("float")): _*).as("emb"))
    }

    def buildStats(tag: String, observeCells: Int) = {
      val key = graft.GraftConf.IvfStatsObserveMaxCells.key
      spark.conf.set(key, observeCells.toLong)
      try {
        val idx = graft.operators.VectorSearch.buildIvf(
          mkDf(tag), "emb", 4, s"$base/ivf_$tag")
        println(s"[obsretry] $tag fired=$fired cellCounts=" +
          idx.cellCounts.mkString(",") +
          s" baseline=${idx.baselineDist}" +
          s" radii=${idx.radii.mkString(",")}" +
          s" rms=${idx.rmsRadii.mkString(",")}")
        (idx.cellCounts.toSeq, idx.baselineDist, idx.radii.toSeq,
          idx.rmsRadii.toSeq, fired)
      } finally spark.conf.unset(key)
    }

    val (obsN, obsB, obsR, obsRms, obsFired) = buildStats("observe", 64)
    val (scanN, scanB, scanR, scanRms, scanFired) = buildStats("scan", 0)
    require(obsFired && scanFired, "injected failure did not fire in both builds")
    require(obsN == scanN, s"cellCounts differ: $obsN vs $scanN")
    def close(a: Double, b: Double): Boolean =
      (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    require(close(obsB, scanB), s"baseline differs: $obsB vs $scanB")
    obsR.zip(scanR).foreach { case (a, b) => require(close(a, b), s"radii $a vs $b") }
    obsRms.zip(scanRms).foreach { case (a, b) => require(close(a, b), s"rms $a vs $b") }
    println("[obsretry] PASS: observe-path stats equal scan-path stats " +
      "under an injected task retry in each build")
    spark.stop()
    graft.FsUtil.deleteRecursively(base)
  }
}
