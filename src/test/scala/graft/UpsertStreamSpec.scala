package graft

import graft.streaming.{EventPipeline, UpsertStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class UpsertStreamSpec extends SparkSpec {
  import spark.implicits._

  test("applyUpserts replaces by key and appends new keys") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val ups = Seq((2L, "B"), (3L, "c")).toDF("k", "v")
    val out = UpsertStream.applyUpserts(base, ups, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c"))
  }

  test("streaming hourly rollup matches batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventPipeline.hourlyRollup(events).writeStream
      .outputMode("complete").format("memory").queryName("rollup").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "view", 3.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("rollup")
      .select(col("h").cast("string"), col("event_type"), col("n"), col("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == Set(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 11:00:00", "view", 1L, 3.0)))
  }
}
