package graft

import graft.functions.GroupTopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class GroupTopKSpec extends SparkSpec {
  import spark.implicits._

  test("matches the window row_number formulation on random data with ties") {
    val rnd = new scala.util.Random(7)
    // values drawn from a small set to force plenty of ties
    val df = (0 until 5000).map(i =>
      (s"g${i % 7}", (rnd.nextInt(40) / 4.0), i.toLong)).toDF("g", "v", "id")
    val heap = GroupTopK.perGroup(df, "g", "v", "id", 5)
      .select("g", "rank", "v", "id").collect().map(_.toString).sorted.toSeq
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id"))
    val window = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("g", "rank", "v", "id").collect().map(_.toString).sorted.toSeq
    assert(heap == window)
  }

  test("groups smaller than k return all their rows, ranked") {
    val df = Seq(("a", 3.0, 1L), ("a", 1.0, 2L), ("b", 9.0, 3L)).toDF("g", "v", "id")
    val got = GroupTopK.perGroup(df, "g", "v", "id", 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set(("a", 1L, 3.0), ("a", 2L, 1.0), ("b", 1L, 9.0)))
  }

  test("plan has one exchange and no Sort operator") {
    val df = (0 until 1000).map(i => (s"g${i % 3}", i.toDouble, i.toLong))
      .toDF("g", "v", "id")
    val plan = GroupTopK.perGroup(df, "g", "v", "id", 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Sort "), s"unexpected sort in plan:\n$plan")
    val audit = graft.plans.PlanAudit.audit(
      GroupTopK.perGroup(df, "g", "v", "id", 4))
    assert(audit.shuffles == 1, s"expected 1 shuffle, got ${audit.shuffles}")
  }

  test("NaN ranks first and null rows are excluded, like the window form") {
    val df = Seq(
      (Some("g"), Some(Double.NaN), Some(1L)),
      (Some("g"), Some(5.0), Some(2L)),
      (Some("g"), Some(7.0), Some(3L)),
      (Some("g"), None, Some(4L)))
      .toDF("g", "v", "id")
    val got = GroupTopK.perGroup(df, "g", "v", "id", 3)
      .orderBy("rank").collect().map(_.getLong(3)).toSeq
    // Spark sorts NaN as the largest double; the null-value row never ranks
    assert(got == Seq(1L, 3L, 2L), got.toString)
  }

  test("buffer compaction keeps exactly the k best under heavy insertion") {
    // one group, 50k rows in one partition — exercises repeated compaction
    val df = (0 until 50000).map(i => ("g", (i % 997).toDouble, i.toLong))
      .toDF("g", "v", "id").repartition(1)
    val got = GroupTopK.perGroup(df, "g", "v", "id", 3)
      .orderBy("rank").collect().map(r => (r.getDouble(2), r.getLong(3)))
    // max value 996 occurs at ids 996, 1993, 2990, ... → lowest ids win
    assert(got.toSeq == Seq((996.0, 996L), (996.0, 1993L), (996.0, 2990L)))
  }
}
