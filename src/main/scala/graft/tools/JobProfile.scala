package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query job/stage/task census for suite residents (guide §1: attribute
  * a wall to scheduler floors vs real compute before optimizing it). Runs
  * each named SparkEntry query like TimeQuery (noop sink, SPARK_GRAFT_REPS,
  * default 2) and prints, for the LAST rep: jobs launched, stages completed,
  * tasks completed and summed executor run/CPU time — a 1.5 s wall with 40
  * jobs and 80 ms of task time is a submission-latency floor; the same wall
  * with 20 s of task CPU is compute worth a plan look.
  *
  * Usage: sbt "runMain graft.tools.JobProfile q124_index_scrub [q125 ...]"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toInt)
    graft.GraftSession.defaults.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.prepare(spark)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val runMs = new AtomicLong
    val cpuMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        }
      }
    })

    val byName = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
    args.foreach { name =>
      val q = byName.getOrElse(name, sys.error(s"unknown query $name"))
      var wall = 0.0
      (1 to reps).foreach { r =>
        jobs.set(0); stages.set(0); tasks.set(0); runMs.set(0); cpuMs.set(0)
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.mode("overwrite").format("noop").save()
        wall = (System.nanoTime() - t0) / 1e9
        // the listener bus is async: drain it so the counters are complete
        org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
        println(f"[jobprofile] $name rep$r wall=$wall%.2f s jobs=${jobs.get}" +
          f" stages=${stages.get} tasks=${tasks.get}" +
          f" taskRun=${runMs.get / 1000.0}%.2f s taskCpu=${cpuMs.get / 1000.0}%.2f s")
      }
    }
    spark.stop()
  }
}
