package graft

import graft.plans.{GraftExtensions, PlanAudit}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

class PlansSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("GraftExtensions injects the vector kernels into a registry") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = Bridge.emptyRegistry()
    Bridge.applyExtensions(ext, reg)
    Seq("vec_dot", "vec_norm", "vec_cos").foreach { f =>
      assert(reg.functionExists(FunctionIdentifier(f)), s"$f not injected")
    }
  }

  test("PlanAudit reports pushdown, pruning, shuffles and codegen") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    df.collect() // materialize AQE stages so codegen collapse has happened
    val a = PlanAudit.audit(df)
    assert(a.pushedFilters.exists(_.contains("GreaterThan(l_quantity,30.0)")))
    assert(a.readsColumn("l_quantity") && !a.readsColumn("l_extendedprice"))
    assert(a.shuffles >= 1)
    assert(a.codegenStages >= 1)
  }

  test("PlanAudit flags TakeOrderedAndProject and broadcast joins") {
    val e = Tables.embeddings(spark, dir)
    val q = Array.fill(64)(0.1f)
    val topk = e.select(col("vec_id"),
        graft.functions.vec_dot(col("embedding"), typedLit(q)).as("s"))
      .orderBy(desc("s")).limit(5)
    assert(PlanAudit.audit(topk).hasTakeOrdered)

    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val j = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
    assert(PlanAudit.audit(j).broadcasts >= 1)
  }

  test("Bridge predicate decoding: equalityOrIn shapes and type-faithful keys") {
    import org.apache.spark.sql.graft.Bridge
    // the shapes the occupancy fast path recognizes
    assert(Bridge.equalityOrIn(col("c") === "v") == Some(("c", Seq("v"))))
    assert(Bridge.equalityOrIn(lit("v") === col("c")) == Some(("c", Seq("v"))))
    assert(Bridge.equalityOrIn(col("c") === 7) == Some(("c", Seq("7"))))
    assert(Bridge.equalityOrIn(col("c").isin("a", "b")) ==
      Some(("c", Seq("a", "b"))))
    // everything else falls through to the count-scan path
    assert(Bridge.equalityOrIn(col("c") > 1).isEmpty)
    assert(Bridge.equalityOrIn(col("c") === col("d")).isEmpty)
    assert(Bridge.equalityOrIn(col("c") === "v" && col("d") === 1).isEmpty)
    assert(Bridge.equalityOrIn(col("c").isin(col("d"))).isEmpty)
    // stableKey: stable across calls (the memo requirement — the Catalyst
    // expression form embeds per-call Origin stack traces), distinct
    // across literal types even where a renderer might coalesce them
    val a = Bridge.stableKey(col("x") === 1)
    assert(a == Bridge.stableKey(col("x") === 1))
    assert(a != Bridge.stableKey(col("x") === 1L))
    assert(a != Bridge.stableKey(col("x") === "1"))
    assert(Bridge.stableKey(col("x") === 1.5f) !=
      Bridge.stableKey(col("x") === 1.5d))
    // conjunct flattening (the conjunction fast path's decomposer):
    // nested ANDs flatten, OR stays atomic, and each conjunct decodes
    // independently
    val cj = Bridge.conjuncts(
      col("a") === "x" && col("b") < 2 && col("c").isin("p", "q"))
    assert(cj.length == 3)
    assert(Bridge.equalityOrIn(cj.head) == Some(("a", Seq("x"))))
    assert(Bridge.equalityOrIn(cj(2)) == Some(("c", Seq("p", "q"))))
    assert(Bridge.conjuncts(col("a") === 1).length == 1)
    assert(Bridge.conjuncts(col("a") === 1 || col("b") === 2).length == 1)
    // typed variant keeps the JVM types the occupancy gate needs
    assert(Bridge.equalityOrInTyped(col("c") === 7) == Some(("c", Seq(7))))
    assert(Bridge.equalityOrInTyped(col("c") === 7.0) ==
      Some(("c", Seq(7.0))))
    assert(Bridge.equalityOrInTyped(col("c").isin(1, 2L)) ==
      Some(("c", Seq(1, 2L))))
    // the gate itself: same-domain pairs pass, cross-domain and
    // fractional literals take the scan path
    import graft.operators.VectorSearch.literalTypeFaithful
    assert(literalTypeFaithful("string", "v"))
    assert(literalTypeFaithful("int", 7) && literalTypeFaithful("bigint", 7))
    assert(literalTypeFaithful("int", 7L))
    assert(literalTypeFaithful("boolean", true))
    assert(!literalTypeFaithful("int", 7.0))
    assert(!literalTypeFaithful("int", "7"))
    assert(!literalTypeFaithful("string", 7))
    assert(!literalTypeFaithful("double", 7.0)) // "7.0" vs "7.000001"-class renders: scan path
  }

  test("IVF probe prunes cluster partitions at the scan") {
    val e = Tables.embeddings(spark, dir)
    val path = java.nio.file.Files.createTempDirectory("ivf_audit").toString
    val ivf = graft.operators.VectorSearch.buildIvf(e, "embedding", 4, path)
    val q = e.select(col("embedding")).head().getSeq[Float](0).toArray
    val probe = ivf.search(spark, q, 10, nprobe = 1)
    assert(probe.count() == 10)
    // the plans that read cells' stored rows — a key's first search over
    // its probed cells, and the fill of a cell's resident rows: partition
    // filter on the cluster column, not a post-scan filter
    Seq(ivf.storedScanPlan(spark, None, Seq(0)), ivf.cellFillPlan(spark, 0))
      .map(_.toString).foreach { plan =>
        assert(plan.contains("PartitionFilters") && plan.contains("__cluster"), plan)
        val scanned = "PartitionFilters: \\[([^\\]]*)\\]".r
          .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
        assert(scanned.contains("__cluster"), plan)
      }
  }

  test("assertColumnPruned catches an embedding read") {
    val e = Tables.embeddings(spark, dir)
    PlanAudit.assertColumnPruned(
      e.groupBy(col("label")).agg(count(lit(1))), "embedding")
    intercept[IllegalArgumentException] {
      PlanAudit.assertColumnPruned(e.select(col("embedding")), "embedding")
    }
  }
}
