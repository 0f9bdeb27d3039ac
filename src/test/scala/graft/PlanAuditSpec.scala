package graft

import graft.operators.VectorSearch
import org.apache.spark.sql.functions._

/** Asserts the scale-critical physical-plan properties (SURVEY §4): filters
  * and projections reach the parquet scan, wide columns are pruned, small
  * dims broadcast, aggregates are partial+final, top-k never global-sorts.
  * These are the properties that keep the same code viable at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("profile-style stats never read the embedding column") {
    val df = Tables.embeddings(spark, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val plan = planOf(df)
    assert(plan.contains("ReadSchema: struct<label:int>"), plan)
    assert(!plan.contains("embedding:"), plan)
  }

  test("dimension joins broadcast; fact join does not broadcast the fact") {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val joined = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)))
    assert(planOf(joined).contains("BroadcastHashJoin"), planOf(joined))
  }

  test("grouped aggregation is partial then final (map-side combine)") {
    val df = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    val plan = planOf(df)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("vector top-k plans as TakeOrderedAndProject with pushed filter") {
    val e = Tables.embeddings(spark, dir)
    val q = Array.fill(64)(0.1f)
    val df = VectorSearch.topK(e, "embedding", q, 100,
      Some(col("label") === 3), projection = Seq("vec_id"))
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)]"), plan)
    // no exchange: scoring + heap run on the scan partitions directly
    assert(!plan.contains("Exchange"), plan)
  }

  test("whole-stage codegen covers the vector scoring expression") {
    val e = Tables.embeddings(spark, dir)
    val q = Array.fill(64)(0.1f)
    val df = e.select(graft.functions.vec_dot(col("embedding"), typedLit(q)).as("s"))
      .filter(col("s") > 0)
    val codegenStages = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(codegenStages.nonEmpty, planOf(df))
  }

  test("as-of join plans as one window pass — no join operator at all") {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("value"),
        col("event_id").as("click_id"))
    val plan = planOf(graft.operators.AsOfJoin.backward(purchases, clicks,
      Seq("user_id"), "ts", "ts", Seq("value"), "click_id"))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("range join plans as a hash equi-join on buckets, never nested-loop") {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("ts").as("s"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("e"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts").as("cts"), col("value"))
    val plan = planOf(graft.operators.RangeJoin.bucketed(
      clicks, errors, "cts", "s", "e", 600000000L))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Join"), plan)
  }

  test("bloom-pruned semi join: predicate sits above the scan, before the exchange") {
    val li = Tables.lineitem(spark, dir)
    val keys = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 100000)
    val plan = planOf(graft.operators.BloomPrune.semiJoin(
      li, keys, "l_orderkey", "o_orderkey", expectedItems = 10000L))
    val filterIdx = plan.indexOf("might_contain")
    val scanIdx = plan.indexOf("FileScan parquet")
    assert(filterIdx >= 0, plan)
    // the might_contain filter node prints ABOVE (before) the lineitem scan
    assert(scanIdx > filterIdx, plan)
  }

  test("decontamination joins the eval-gram set as a broadcast, never SMJ") {
    val docs = Tables.documents(spark, dir)
    val df = graft.operators.TextAnalysis.contaminationShare(
      docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20),
      "text", "doc_id")
    df.collect() // materialize AQE stages
    val audit = graft.plans.PlanAudit.audit(df)
    val plan = df.queryExecution.executedPlan.toString
    assert(audit.broadcasts >= 1, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("semanticDedup pairs via a hash equi-join on cluster id, never cartesian") {
    val emb = Tables.embeddings(spark, dir)
    val cents = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    val df = graft.operators.Dedup.semanticDedup(
      emb.select(col("vec_id"), col("embedding")), "embedding", "vec_id", cents)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("chunking and the hash samplers are shuffle-free narrow plans") {
    val docs = Tables.documents(spark, dir)
    for (df <- Seq(
        graft.operators.TextAnalysis.chunkDocs(docs, "text", "doc_id", 50, 10),
        graft.sources.Ingest.mixtureSample(docs, "doc_id", "source",
          Map("src0" -> 0.5), default = 0.1),
        graft.sources.Ingest.hashSplit(docs, "doc_id",
          Seq("train" -> 0.9, "test" -> 0.1)))) {
      df.collect()
      val audit = graft.plans.PlanAudit.audit(df)
      assert(audit.shuffles == 0,
        df.queryExecution.executedPlan.toString)
    }
  }

  test("merged-store reads keep heap top-k and prune the vector column") {
    // the 200-QPS tier's concurrent-read path: store.read() is base ∪ live
    // deltas (anti-join + union) — the serving-read plan properties must
    // survive the merge, not just a plain scan
    val root = java.nio.file.Files.createTempDirectory("pa_store").toString
    val store = new graft.streaming.BucketedStore(root, nBuckets = 4)
    import spark.implicits._
    val rows = (0L until 200L).map { i =>
      (i, s"cat${i % 3}", Array.tabulate(16)(d => (i + d).toFloat))
    }.toDF("id", "category", "embedding")
    store.initialize(rows, "id")
    store.appendDelta(
      Seq((3L, "cat0", Array.fill(16)(9.0f)),
        (500L, "cat1", Array.fill(16)(1.0f)))
        .toDF("id", "category", "embedding"), "id")
    val merged = store.read(spark)
    // vector top-k over the merged view: per-partition heap, no global sort
    val q = Array.fill(16)(0.5f)
    val topPlan = planOf(VectorSearch.topK(merged, "embedding", q, 10,
      Some(col("category") === "cat1"), projection = Seq("id")))
    assert(topPlan.contains("TakeOrderedAndProject"), topPlan)
    assert(!topPlan.contains("ShuffleExchange"), topPlan)
    // non-vector projection: the embedding column must not be read on
    // EITHER side of the base ∪ delta union
    val statPlan = planOf(
      merged.groupBy(col("category")).agg(count(lit(1)).as("n")))
    assert(!statPlan.contains("embedding:"), statPlan)
  }

  test("duplicate-n-gram fraction is a shuffle-free narrow plan") {
    // the per-doc repetition scalar evaluates entirely inside the row
    // (transform + array_distinct) — no explode through an exchange; at
    // 100 TB the operator's cost is exactly one scan of the text
    val docs = Tables.documents(spark, dir)
    val df = graft.operators.TextAnalysis.dupNgramFraction(
      docs, "text", "doc_id", 3)
    df.collect()
    val audit = graft.plans.PlanAudit.audit(df)
    assert(audit.shuffles == 0, df.queryExecution.executedPlan.toString)
  }

  test("substring scrub exchanges only duplicated-window data, not corpus tokens") {
    // removal positions aggregate per doc and join back to the text ONCE;
    // the token rebuild is narrow (array_except + transform). The plan
    // must contain no Generate (explode) of the corpus token array — only
    // the window-gram explode feeding the duplicate detector.
    val docs = Tables.documents(spark, dir)
    val df = graft.operators.Dedup.scrubRepeatedSubstrings(
      docs, "text", "doc_id", k = 5)
    df.collect()
    // count explodes in the OPTIMIZED LOGICAL plan (the physical string
    // re-prints subtrees per AQE stage): the k-gram posexplode appears
    // twice (duplicate-detector agg side + join-back side of the
    // self-join) and nothing else generates — the old shape added a
    // posexplode of every corpus token feeding an anti-join +
    // collect_list rebuild, plus a span-expansion explode
    val logical = df.queryExecution.optimizedPlan.toString
    val generates = "Generate ".r.findAllIn(logical).length
    assert(generates <= 2,
      s"expected <=2 Generate nodes, got $generates:\n$logical")
  }

  test("multi-query top-k: one job, no shuffle, one scan, no Sort") {
    val emb = Tables.embeddings(spark, dir)
    val queries = Seq(Array.fill(64)(0.5f), Array.fill(64)(-0.5f),
      Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f))
    // the grouped bounded-heap formulation: one job over the scan keeps
    // a heap per query in each task, and the driver merges them
    val (rows, jobs) = jobsDuring(
      VectorSearch.topKMulti(emb, "embedding", queries, 10, "vec_id").collect())
    assert(jobs == 1, s"expected 1 job, got $jobs")
    assert(rows.length == 30)
    val scan = VectorSearch.multiScan(emb,
      q => graft.functions.vec_dot(col("embedding"), typedLit(q)), queries,
      "vec_id", None)
    val plan = planOf(scan)
    assert(!plan.contains("Sort "), plan)
    // exactly one parquet scan of the table feeds all three queries
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
    val audit = graft.plans.PlanAudit.audit(scan)
    assert(audit.shuffles == 0, s"expected no shuffle, got ${audit.shuffles}")
  }
}
