package graft

import graft.operators.VectorSearch
import org.apache.spark.sql.functions._

class VectorSearchSpec extends SparkSpec {
  import spark.implicits._

  /** 3 well-separated clusters of 40 vectors each in 8 dims. */
  private lazy val clustered = {
    val rnd = new scala.util.Random(7)
    val centers = Seq(
      Array.fill(8)(5.0f), Array.fill(8)(-5.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 5.0f else -5.0f))
    (0 until 120).map { i =>
      val c = centers(i % 3)
      (i.toLong, (i % 3), c.map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "true_cluster", "embedding")
  }

  test("topK matches brute-force ranking and respects filters") {
    val q = Array.fill(8)(5.0f)
    val top = VectorSearch.topK(clustered, "embedding", q, 5,
      projection = Seq("vec_id"))
    val rows = top.collect()
    assert(rows.length == 5)
    // all results must come from cluster 0 (aligned with the query)
    val brute = clustered.collect().map { r =>
      val v = r.getSeq[Float](2)
      (r.getLong(0), v.zip(q).map { case (a, b) => a.toDouble * b }.sum)
    }.sortBy(-_._2).take(5).map(_._1).toSet
    assert(rows.map(_.getLong(0)).toSet == brute)
    val filtered = VectorSearch.topK(clustered, "embedding", q, 5,
      filter = Some(col("true_cluster") === 1))
    assert(filtered.select("true_cluster").as[Int].collect().forall(_ == 1))
  }

  test("IVF index: probe-1 finds the aligned cluster with recall 1.0") {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    val q = Array.fill(8)(5.0f)
    val approx = idx.search(spark, q, 10, nprobe = 1)
      .select(lit(0L).as("qid"), col("vec_id"))
    val exact = VectorSearch.topK(clustered, "embedding", q, 10,
      projection = Seq("vec_id")).select(lit(0L).as("qid"), col("vec_id"))
    val recall = VectorSearch.recallAtK(exact, approx, "qid", "vec_id", 10)
      .head().getDouble(0)
    assert(recall == 1.0, s"recall $recall")
  }

  test("IVF append: new vectors are searchable without a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_app").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    val q = Array.fill(8)(5.0f)
    def top() = idx.search(spark, q, 3, nprobe = 1).select("vec_id")
      .collect().map(_.getLong(0))
    // a search BEFORE the append prepares the pre-append snapshot's scan
    assert(!top().contains(999L))
    val builds = idx.preparedScanBuildCount
    // a fresh vector aligned with the query at 2x magnitude: dot 400 vs
    // ~200±20 for existing members — must become the top-1 hit
    val updates = Seq((999L, 0, Array.fill(8)(10.0f)))
      .toDF("vec_id", "true_cluster", "embedding")
    idx.append(updates, "embedding")
    val after = top()
    assert(after.head == 999L, after.toSeq.toString)
    // original members still present behind it
    assert(after.tail.nonEmpty)
    // the append invalidated the prepared scan: rebuilt once, then reused
    assert(top().toSeq == after.toSeq)
    assert(idx.preparedScanBuildCount == builds + 1)
  }

  test("IVF search keeps apart filters whose text aliases, and re-plans volatile ones") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_alias").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    val q = Array.fill(8)(5.0f)
    def ids(f: org.apache.spark.sql.Column) =
      idx.search(spark, q, 10, nprobe = 3, Some(f)).select("vec_id")
        .collect().map(_.getLong(0)).toSet
    // two anonymous UDFs over one column: one rendered text, two meanings
    val even = udf((id: Long) => id % 2 == 0)
    val odd = udf((id: Long) => id % 2 == 1)
    val compiled = idx.cellScanBuildCount
    for (_ <- 1 to 3) {
      val e = ids(even(col("vec_id")))
      val o = ids(odd(col("vec_id")))
      assert(e.size == 10 && e.forall(_ % 2 == 0), e)
      assert(o.size == 10 && o.forall(_ % 2 == 1), o)
    }
    // neither a UDF nor a nondeterministic or current-time filter is
    // ever served from compiled cell scans
    for (_ <- 1 to 3) {
      assert(ids(rand() < 2.0).size == 10)
      assert(ids(current_date() > lit("2000-01-01").cast("date")).size == 10)
    }
    assert(idx.cellScanBuildCount == compiled)
    // a built-in deterministic filter is, from its second search on
    val mod = col("vec_id") % 2 === 0
    assert(ids(mod) == ids(even(col("vec_id"))))
    assert(idx.cellScanBuildCount == compiled)
    assert(ids(mod) == ids(even(col("vec_id"))))
    assert(idx.cellScanBuildCount > compiled)
  }

  test("IVF drift probe: skewed appends trip needsRetrain, aligned ones don't") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    assert(!idx.baselineDist.isNaN && idx.baselineDist >= 0.0)
    // in-distribution appends: more vectors around an existing center
    val rnd = new scala.util.Random(11)
    val aligned = (1000L until 1040L).map { i =>
      (i, 0, Array.fill(8)(5.0f + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "true_cluster", "embedding")
    idx.append(aligned, "embedding")
    val healthy = idx.driftRatio(spark, sampleFraction = 1.0)
    assert(healthy < 1.5, s"healthy appends read as drift: $healthy")
    assert(idx.driftRatio(spark, sampleFraction = 1.0) < 1.5)
    // skewed appends: a new mode far from every trained centroid
    val skewed = (2000L until 2080L).map { i =>
      (i, 3, Array.tabulate(8)(d => if (d < 4) 40.0f else -40.0f))
    }.toDF("vec_id", "true_cluster", "embedding")
    idx.append(skewed, "embedding")
    val drifted = idx.driftRatio(spark, sampleFraction = 1.0)
    assert(drifted > healthy && drifted >= 1.5,
      s"drift not detected: healthy=$healthy drifted=$drifted")
    assert(idx.driftRatio(spark, sampleFraction = 1.0) >= 1.5)
  }

  test("probe order ranks cells by achievable-dot bound, not raw centroid dot") {
    // tight high-dot cell (centroid (4,0,0,0), radius 0.1) vs a diffuse
    // cell centered at the origin whose members reach dot 8 — the raw
    // centroid dot ranks the tight cell first and would give recall 0 at
    // nprobe 1; the q·c + r·|q| bound routes to the diffuse cell where the
    // true top hits live
    val cents = Array(Array(4.0f, 0f, 0f, 0f), Array(0f, 0f, 0f, 0f))
    val q = Array(1.0f, 0f, 0f, 0f)
    val bounded = new VectorSearch.IvfIndex("unused", cents, Double.NaN,
      radii = Array(0.1, 8.0))
    assert(bounded.nearestClusters(q, 2) == Seq(1, 0))
    // an index without radii degrades to raw-dot order
    val noRadii = new VectorSearch.IvfIndex("unused", cents)
    assert(noRadii.nearestClusters(q, 2) == Seq(0, 1))
    // buildIvf populates one radius per centroid from the train sample
    val dir = java.nio.file.Files.createTempDirectory("ivf_radii").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0)
    assert(idx.radii.length == idx.centroids.length)
    assert(idx.radii.forall(r => r > 0.0 && r < 3.0),
      s"jitter-cluster radii out of range: ${idx.radii.toSeq}")
  }

  test("routing radii are robust: one outlier-inflated cell cannot hijack probe order") {
    // two cells: the true high-dot cell (centroid (4,0,0,0)) with healthy
    // spread, and a junk cell at the origin whose MAX radius was inflated
    // by a single sampled outlier while its RMS stayed tiny — the
    // failure shape the r6 probe-order lab measured (junk cells ranked
    // ahead of every hit cell at fine granularity). Max-radius routing
    // ranks the junk cell first (4 + 0.5 < 0 + 8); the RMS routing
    // default keeps the true cell first.
    val cents = Array(Array(4.0f, 0f, 0f, 0f), Array(0f, 0f, 0f, 0f))
    val q = Array(1.0f, 0f, 0f, 0f)
    val byMax = new VectorSearch.IvfIndex("unused", cents, Double.NaN,
      radii = Array(0.5, 8.0))
    assert(byMax.nearestClusters(q, 2) == Seq(1, 0)) // the documented fragility
    val robust = new VectorSearch.IvfIndex("unused", cents, Double.NaN,
      radii = Array(0.5, 8.0), rmsRadii = Array(0.4, 0.2))
    assert(robust.nearestClusters(q, 2) == Seq(0, 1))
    // buildIvf populates both radius families + per-cell sample counts
    val dir = java.nio.file.Files.createTempDirectory("ivf_rms").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0)
    assert(idx.rmsRadii.length == idx.centroids.length)
    assert(idx.cellCounts.sum == 120L)
    // RMS ≤ max per cell, both positive on the jitter clusters
    assert(idx.rmsRadii.zip(idx.radii).forall { case (r, m) =>
      r > 0.0 && r <= m })
  }

  test("occupancy probe plan equals the count-scan plan, with zero Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_occ").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("true_cluster"))
    // the table covers the FULL index, not the train sample
    assert(idx.occupancyTable("true_cluster").values.sum == 120L)
    val q = Array.fill(8)(5.0f)
    val pred = col("true_cluster") === 1
    val plan = idx.probePlan(spark, Seq(q), 5, 1, Some(pred),
      exactFallback = true)
    // same handle without the occupancy table falls back to the pushed
    // count scan — the two plans must be identical (the occupancy IS the
    // count scan's result, precomputed)
    val scanIdx = new VectorSearch.IvfIndex(idx.path, idx.centroids,
      idx.baselineDist, idx.radii, idx.rmsRadii, idx.cellCounts)
    assert(plan == scanIdx.probePlan(spark, Seq(q), 5, 1, Some(pred),
      exactFallback = true))
    // IN-form predicates route through the table too
    val predIn = col("true_cluster").isin(0, 2)
    assert(idx.probePlan(spark, Seq(q), 5, 1, Some(predIn), true) ==
      scanIdx.probePlan(spark, Seq(q), 5, 1, Some(predIn), true))
    // proof that the categorical path runs NO job: a handle whose path
    // does not exist can still plan (any scan attempt would throw)
    val offline = new VectorSearch.IvfIndex("/no/such/ivf/path", idx.centroids,
      Double.NaN, idx.radii, idx.rmsRadii, idx.cellCounts,
      idx.occupancyTable, idx.occupancyTypes)
    assert(offline.probePlan(spark, Seq(q), 5, 1, Some(pred), true) == plan)
    // type gate: a DOUBLE literal on the registered INT column renders
    // "1.0" against table keys like "1" — Spark's filter would match
    // rows the lookup can't count, so the fast path must refuse it and
    // take the scan (the offline handle proves it by throwing)
    intercept[Exception] {
      offline.probePlan(spark, Seq(q), 5, 1,
        Some(col("true_cluster") === 1.0), true)
    }
    // ...while the online handle answers it correctly through the scan
    assert(idx.probePlan(spark, Seq(q), 5, 1,
      Some(col("true_cluster") === 1.0), true) == plan)
    // zero-total backstop: a value absent from the table falls through to
    // the (ground-truth) count scan instead of trusting an empty lookup —
    // offline that means a throw, not a silent zero-cell plan
    intercept[Exception] {
      offline.probePlan(spark, Seq(q), 5, 1,
        Some(col("true_cluster") === 99), true)
    }
    // string literal on the int column: cross-domain, gate refuses (the
    // filter would coerce; "01"-style renders can disagree both ways)
    intercept[Exception] {
      offline.probePlan(spark, Seq(q), 5, 1,
        Some(col("true_cluster") === "1"), true)
    }
    // a conjunction with a numeric range must NOT use the table (it would
    // over-count) — it takes the scan path, which the memo then caches
    val mixed = pred && col("vec_id") < 3
    val planMixed = idx.probePlan(spark, Seq(q), 5, 1, Some(mixed), true)
    assert(planMixed == scanIdx.probePlan(spark, Seq(q), 5, 1, Some(mixed),
      true))
    // filtered search results stay exact under the occupancy plan
    val got = idx.search(spark, q, 5, nprobe = 1, Some(pred))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = VectorSearch.topK(clustered, "embedding", q, 5, Some(pred),
      projection = Seq("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got == exact)
  }

  test("append folds batch stats: occupancy gains new values, radii absorb outliers") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_fold").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("true_cluster"))
    val r0 = idx.radii.clone()
    val n0 = idx.cellCounts.sum
    // category value 7 never existed at build time — the occupancy fold
    // must make the appended rows plan-visible (a stale table would show
    // zero match-bearing cells and the probe plan would skip them)
    val updates = (500L until 510L).map(i =>
      (i, 7, Array.fill(8)(5.0f + (i % 3) * 0.1f)))
      .toDF("vec_id", "true_cluster", "embedding")
    idx.append(updates, "embedding")
    val q = Array.fill(8)(5.0f)
    val pred = col("true_cluster") === 7
    val plan = idx.probePlan(spark, Seq(q), 20, 1, Some(pred),
      exactFallback = true).head
    assert(plan.nonEmpty)
    val got = idx.search(spark, q, 20, nprobe = 1, Some(pred))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == (500L until 510L).toSet, got.toString)
    assert(idx.cellCounts.sum == n0 + 10)
    // an appended outlier far beyond the train sample raises its cell's
    // max radius (the admissible bound stays truthful under appends)
    idx.append(Seq((999L, 0, Array.fill(8)(20.0f)))
      .toDF("vec_id", "true_cluster", "embedding"), "embedding")
    assert(idx.radii.zip(r0).exists { case (a, b) => a > b },
      s"radii unchanged by outlier append: ${idx.radii.toSeq} vs ${r0.toSeq}")
  }

  test("IVF manifest: load reopens the index with identical state and results") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_manifest").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("true_cluster"))
    // the manifest is invisible to the index's own parquet scans
    assert(spark.read.parquet(dir).count() == 120L)
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.centroids.length == idx.centroids.length)
    assert(loaded.centroids.zip(idx.centroids).forall { case (a, b) =>
      a.sameElements(b) })
    assert(loaded.radii.toSeq == idx.radii.toSeq)
    assert(loaded.rmsRadii.toSeq == idx.rmsRadii.toSeq)
    assert(loaded.cellCounts.toSeq == idx.cellCounts.toSeq)
    assert(loaded.baselineDist == idx.baselineDist)
    assert(loaded.occupancyTable == idx.occupancyTable)
    // the literal-type gate survives the round trip (an int-typed
    // registered column must not come back string-typed, which would
    // silently push its filters onto the scan path)
    assert(loaded.occupancyTypes == Map("true_cluster" -> "int"))
    // search parity through the reopened handle, filtered + unfiltered
    val q = Array.fill(8)(5.0f)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(ids(loaded.search(spark, q, 5, nprobe = 1)) ==
      ids(idx.search(spark, q, 5, nprobe = 1)))
    val pred = col("true_cluster") === 1
    assert(ids(loaded.search(spark, q, 5, 1, Some(pred))) ==
      ids(idx.search(spark, q, 5, 1, Some(pred))))
    // append auto-checkpoints the folded stats (manifestCheckpointEvery
    // default 1) — the crashed-appender round trip: NO explicit
    // saveManifest, a fresh load must still see the batch's stats
    idx.append(Seq((700L, 9, Array.fill(8)(5.0f)))
      .toDF("vec_id", "true_cluster", "embedding"), "embedding")
    val re = VectorSearch.IvfIndex.load(spark, dir)
    assert(re.occupancyTable == idx.occupancyTable)
    assert(re.occupancyTable("true_cluster").keys.exists(_._2 == "9"))
    assert(re.radii.toSeq == idx.radii.toSeq)
    assert(re.cellCounts.toSeq == idx.cellCounts.toSeq)
    // cadence N: the (N-1) appends between checkpoints are the accepted
    // staleness window, the N-th append flushes
    idx.tuning = idx.tuning.copy(manifestCheckpointEvery = Some(2))
    idx.append(Seq((701L, 11, Array.fill(8)(5.0f)))
      .toDF("vec_id", "true_cluster", "embedding"), "embedding")
    assert(!VectorSearch.IvfIndex.load(spark, dir)
      .occupancyTable("true_cluster").keys.exists(_._2 == "11"))
    idx.append(Seq((702L, 12, Array.fill(8)(5.0f)))
      .toDF("vec_id", "true_cluster", "embedding"), "embedding")
    val re2 = VectorSearch.IvfIndex.load(spark, dir)
    assert(re2.occupancyTable("true_cluster").keys.exists(_._2 == "11"))
    assert(re2.occupancyTable("true_cluster").keys.exists(_._2 == "12"))
  }

  test("drift loop closes: shifted appends trip retrain, rebuild recovers recall") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_loop").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0)
    // append a shifted mode until the drift probe demands a re-train
    val rnd = new scala.util.Random(23)
    val shifted = (3000L until 3080L).map { i =>
      (i, 3, Array.tabulate(8)(d =>
        (if (d < 4) 30.0f else -30.0f) + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "true_cluster", "embedding")
    idx.append(shifted, "embedding")
    assert(idx.driftRatio(spark, sampleFraction = 1.0) >= 1.5)
    // the re-train: rebuild over the index's CURRENT contents (original +
    // appended rows, read back from the index itself) with a cluster
    // budget for the new mode
    val all = spark.read.parquet(dir)
      .select(col("vec_id"), col("__vec").as("embedding"))
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_loop2").toString
    val idx2 = VectorSearch.buildIvf(all, "embedding", 4, dir2,
      sampleFraction = 1.0)
    // drift gone, and a query in the shifted mode recovers full recall at
    // nprobe 1 (the mode owns a centroid again)
    assert(idx2.driftRatio(spark, sampleFraction = 1.0) < 1.5)
    val q = Array.tabulate(8)(d => if (d < 4) 30.0f else -30.0f)
    // nprobe 2 of 4: the re-fit may split the recovered mode across two
    // cells; the loop contract is recall at a SMALL probe budget, not at 1
    val approx = idx2.search(spark, q, 10, nprobe = 2)
      .select(lit(0L).as("qid"), col("vec_id"))
    val exact = VectorSearch.topK(all, "embedding", q, 10,
      projection = Seq("vec_id")).select(lit(0L).as("qid"), col("vec_id"))
    val recall = VectorSearch.recallAtK(exact, approx, "qid", "vec_id", 10)
      .head().getDouble(0)
    assert(recall >= 0.9, s"post-retrain recall $recall")
  }

  test("filter-aware probe plan routes an anti-correlated filter to its cells") {
    // query aligned with cluster 0, filter selecting ONLY cluster-1 rows:
    // a query-centric probe list ranks cluster 1's cell last, so at
    // nprobe 1 the old plan found zero candidates and widened to a FULL
    // exact scan; the filter-aware plan probes the best match-bearing
    // cell directly and still returns the exact filtered top-k
    val dir = java.nio.file.Files.createTempDirectory("ivf_faware").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0)
    val q = Array.fill(8)(5.0f)
    val pred = col("true_cluster") === 1
    val plan = idx.probePlan(spark, Seq(q), k = 5, nprobe = 1, Some(pred),
      exactFallback = true).head
    // the plan touches ONLY cells holding cluster-1 rows — never the
    // query-side cells and never the whole index
    val cellsWithMatches = spark.read.parquet(dir).filter(pred)
      .select("__cluster").distinct().collect().map(_.getInt(0)).toSet
    assert(plan.nonEmpty && plan.toSet.subsetOf(cellsWithMatches),
      s"plan $plan vs match-bearing $cellsWithMatches")
    assert(plan.length < idx.centroids.length)
    // and the result is still the exact filtered top-k
    val got = idx.search(spark, q, 5, nprobe = 1, Some(pred))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = VectorSearch.topK(clustered, "embedding", q, 5, Some(pred),
      projection = Seq("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got == exact)
    // a filter with zero matches anywhere produces an empty plan + result
    val none = idx.probePlan(spark, Seq(q), 5, 1,
      Some(col("true_cluster") === 99), exactFallback = true).head
    assert(none.isEmpty)
    assert(idx.search(spark, q, 5, 1, Some(col("true_cluster") === 99))
      .isEmpty)
  }

  test("auto-widen: thin filters plan to widenFactor×k candidates, per handle") {
    // Hand-constructed offline handle (zero jobs — the occupancy table
    // answers every per-cell match count): 8 one-hot centroids, no radii,
    // so the probe order under q = [8,7,...,1] is exactly cell 0,1,...,7;
    // the registered filter leaves 2 matching rows in EVERY cell. The
    // ultra-selective failure this knob closes (r11 2M point: recall
    // 0.633 @ np64 on the 0.001% tier) is exactly "cum reached k after a
    // few cells and the true top-k's cells ranked below the cut".
    val cents = Array.tabulate(8)(i =>
      Array.tabulate(8)(j => if (i == j) 1.0f else 0.0f))
    val occ = Map("flag" -> (0 until 8).map(c => (c, "1") -> 2L).toMap)
    val idx = new VectorSearch.IvfIndex("/no/such/ivf/path", cents,
      Double.NaN, Array.empty, Array.empty,
      cellCounts = Array.fill(8)(100L),
      occupancy = occ, occupancyTypes = Map("flag" -> "string"))
    val q = Array.tabulate(8)(i => (8 - i).toFloat)
    val pred = col("flag") === "1"
    // matches in EVERY cell → the support's read volume is the whole
    // index, so the thin-support rule's cost gate stands down and the
    // candidate-volume widening governs (this handle pins ITS arithmetic)
    def planAt(wf: Double): Seq[Int] = {
      idx.tuning = idx.tuning.copy(widenFactor = wf)
      idx.probePlan(spark, Seq(q), k = 3, nprobe = 1, Some(pred),
        exactFallback = true).head
    }
    // the default (Tuning().widenFactor 1.0 — the larger-factor
    // hypothesis was measured and refuted, BENCH_widen_r12.json): stop at
    // cum ≥ k → cells 0,1 (cum 4 ≥ 3)
    idx.tuning = VectorSearch.IvfIndex.Tuning()
    assert(idx.probePlan(spark, Seq(q), 3, 1, Some(pred), true).head
      == Seq(0, 1))
    // factor 4: target 12 candidates → cells 0..5 (cum 12 at 6 cells)
    assert(planAt(4.0) == (0 to 5))
    // a target past the total match count degenerates to ALL match-bearing
    // cells — the exact answer's support, recall 1.0 by construction
    assert(planAt(100.0) == (0 to 7))
    // nprobe still floors the plan when it exceeds the candidate target
    idx.tuning = idx.tuning.copy(widenFactor = 1.0)
    assert(idx.probePlan(spark, Seq(q), 3, 7, Some(pred), true).head
      == (0 to 6))
    // the override is handle-scoped: a sibling handle at the same state
    // plans with the default Tuning, untouched by this handle's dial
    val sibling = new VectorSearch.IvfIndex("/no/such/ivf/path", cents,
      Double.NaN, Array.empty, Array.empty, Array.fill(8)(100L),
      occ, Map("flag" -> "string"))
    assert(sibling.probePlan(spark, Seq(q), 3, 1, Some(pred), true).head
      == Seq(0, 1))
  }

  test("thin-support scan: an affordable thin filter plans its whole support") {
    // The r12 fix for the 2M point's 0.06%-tier margin: matches confined
    // to 4 small cells (200 of 2200 rows = 9% — under the 35% cost gate)
    // with 2 matches each (8 total ≤ 16 × k=3). The plan must be ALL
    // four match-bearing cells at ANY nprobe — the exact answer's
    // support — regardless of where they rank.
    val cents = Array.tabulate(8)(i =>
      Array.tabulate(8)(j => if (i == j) 1.0f else 0.0f))
    val occ = Map("flag" -> (0 until 4).map(c => (c, "1") -> 2L).toMap)
    val idx = new VectorSearch.IvfIndex("/no/such/ivf/path", cents,
      Double.NaN, Array.empty, Array.empty,
      cellCounts = Array.tabulate(8)(i => if (i < 4) 50L else 500L),
      occupancy = occ, occupancyTypes = Map("flag" -> "string"))
    // query ranks the match-bearing cells LAST (mass on dims 4..7) — the
    // exact shape where ranked-order widening under-probes
    val q = Array.tabulate(8)(i => if (i >= 4) (i + 1).toFloat else 0.1f)
    val pred = col("flag") === "1"
    val plan = idx.probePlan(spark, Seq(q), k = 3, nprobe = 1, Some(pred),
      exactFallback = true).head.toSet
    assert(plan == Set(0, 1, 2, 3), s"thin-support plan $plan")
    // disabled per handle → the classic cum ≥ k walk down the ranked
    // match-bearing list (2 cells)
    idx.tuning = idx.tuning.copy(thinFactor = 0.0)
    val off = idx.probePlan(spark, Seq(q), 3, 1, Some(pred), true).head
    assert(off.length == 2, s"classic plan $off")
    // cost gate: the same support spread over cells holding most of the
    // index's rows must NOT trigger the support scan
    idx.tuning = VectorSearch.IvfIndex.Tuning()
    val fat = new VectorSearch.IvfIndex("/no/such/ivf/path", cents,
      Double.NaN, Array.empty, Array.empty,
      cellCounts = Array.fill(8)(500L),
      occupancy = occ, occupancyTypes = Map("flag" -> "string"))
    val fatPlan = fat.probePlan(spark, Seq(q), 3, 1, Some(pred), true).head
    assert(fatPlan.length == 2, s"cost gate failed: $fatPlan")
    // r13: telemetry pins provenance (one thin plan on idx, none on the
    // gated copy), and the per-handle read-fraction override opens the
    // gate on that handle alone
    assert(idx.thinSupportPlanCount == 1L && fat.thinSupportPlanCount == 0L)
    fat.tuning = fat.tuning.copy(thinReadFraction = 1.0)
    val opened = fat.probePlan(spark, Seq(q), 3, 1, Some(pred), true).head
    assert(opened.toSet == Set(0, 1, 2, 3) && fat.thinSupportPlanCount == 1L,
      s"per-handle read-fraction override failed: $opened")
  }

  test("high-cell-count build exchanges before the partitioned write") {
    // r13 write-floor fix: above graft.ivf.writeExchangeMinFiles ESTIMATED files
    // (input tasks × cells) the build trades one hash exchange on the
    // cluster id for a ~cells-file layout — each cluster wholly inside
    // one task — instead of the direct path's tasks × cells files (the
    // 31 MB/s per-file-overhead floor at 4096 cells, r12). Forced both
    // ways on one dataset: the layouts must differ exactly as designed
    // and the INDEX must be identical (same centroids, same cellCounts,
    // same search answer — only file placement changes).
    val rnd = new scala.util.Random(7)
    val rows = (0 until 512).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == i % 8) 10.0f else 0.0f) + rnd.nextFloat()))
    }.toDF("vec_id", "embedding").repartition(8)
    // DATA files only — the routed manifest under _graft_manifest is
    // parquet too and not part of the layout under test
    def files(dir: String): Long = FsUtil.countFiles(
      java.nio.file.Paths.get(dir), ".parquet", "_graft_manifest")
    val minFiles = GraftConf.IvfWriteExchangeMinFiles.key
    val root = java.nio.file.Files.createTempDirectory("ivf_exchange")
    try {
      val direct = withConf(minFiles -> Long.MaxValue.toString) {
        VectorSearch.buildIvf(rows, "embedding", 8,
          s"$root/direct", sampleFraction = 1.0)
      }
      val exch = withConf(minFiles -> "0") {
        VectorSearch.buildIvf(rows, "embedding", 8,
          s"$root/exch", sampleFraction = 1.0)
      }
      val fDirect = files(s"$root/direct")
      val fExch = files(s"$root/exch")
      assert(fExch <= 8L, s"exchange layout wrote $fExch files")
      assert(fDirect > fExch,
        s"direct $fDirect vs exchange $fExch — gate did not change layout")
      assert(direct.cellCounts.sameElements(exch.cellCounts))
      val q = Array.tabulate(8)(i => (8 - i).toFloat)
      def ids(ix: VectorSearch.IvfIndex): Seq[Long] =
        ix.search(spark, q, 5, nprobe = 8)
          .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(ids(direct) == ids(exch))
    } finally FsUtil.deleteRecursively(root)
  }

  test("auto-widen end-to-end: built index plans wider at factor 4 and stays exact") {
    // Real build, real search: 8 hubs × 15 rows in 8 dims, the filter
    // keeping 2 rows per hub — matches everywhere, so the thin-support
    // cost gate stands down and the candidate-volume knob governs. The
    // factor-4 plan must strictly contain the factor-1 (default) plan
    // (the machinery engages end-to-end, through occupancy counts and a
    // real cell layout) and the widened search must return the exact
    // filtered top-k.
    val rnd = new scala.util.Random(11)
    val hubRows = (0 until 8).flatMap { h =>
      (0 until 15).map { r =>
        val v = Array.tabulate(8)(j =>
          (if (j == h) 10.0f else 0.0f) + rnd.nextFloat() - 0.5f)
        (h * 100L + r, if (r < 2) 1 else 0, v)
      }
    }.toDF("vec_id", "flag", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_widen").toString
    val idx = VectorSearch.buildIvf(hubRows, "embedding", 8, dir,
      sampleFraction = 1.0, occupancyCols = Seq("flag"))
    val q = Array.tabulate(8)(i => (8 - i).toFloat)
    val pred = col("flag") === 1
    def planAt(wf: Double): Set[Int] = {
      idx.tuning = idx.tuning.copy(widenFactor = wf)
      idx.probePlan(spark, Seq(q), k = 3, nprobe = 1, Some(pred),
        exactFallback = true).head.toSet
    }
    val narrow = planAt(VectorSearch.IvfIndex.Tuning().widenFactor) // 1
    val wide = planAt(4.0)
    // layout-independent check (KMeans may merge hubs, so per-cell match
    // counts vary): the factor-1 plan stops once it holds ≥ k = 3
    // candidates, factor 4 keeps widening to ≥ 12 — strictly more
    // cells, and candidate volumes at/above each target
    val matchPerCell = spark.read.parquet(dir).filter(pred)
      .groupBy(col("__cluster")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def cum(cells: Set[Int]): Long = cells.toSeq.map(matchPerCell(_)).sum
    assert(narrow.subsetOf(wide) && narrow != wide, s"$narrow vs $wide")
    assert(cum(narrow) >= 3)
    assert(cum(wide) >= 12 || wide == matchPerCell.keySet,
      s"wide plan holds ${cum(wide)} candidates")
    val exact = VectorSearch.topK(hubRows, "embedding", q, 3, Some(pred),
      projection = Seq("vec_id")).collect().map(_.getLong(0)).toSet
    val got = idx.search(spark, q, 3, nprobe = 1, Some(pred))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got == exact)
  }

  test("recallAtK of exact vs itself is 1.0") {
    val q = Array.fill(8)(-5.0f)
    val exact = VectorSearch.topK(clustered, "embedding", q, 7,
      projection = Seq("vec_id")).select(lit(1L).as("qid"), col("vec_id"))
    val r = VectorSearch.recallAtK(exact, exact, "qid", "vec_id", 7).head().getDouble(0)
    assert(r == 1.0)
  }

  test("topk plan is TakeOrderedAndProject (no global sort, no shuffle of vectors)") {
    val q = Array.fill(8)(1.0f)
    val plan = VectorSearch.topK(clustered, "embedding", q, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  private def resultSets(df: org.apache.spark.sql.DataFrame): Map[Int, Set[String]] =
    df.collect().groupBy(_.getInt(0)).map { case (q, rows) =>
      q -> rows.map(_.getString(3)).toSet
    }

  test("topKMulti: one scan reproduces per-query topK, with and without filter") {
    val queries = Seq(Array.fill(8)(5.0f), Array.fill(8)(-5.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 5.0f else -5.0f))
    val multi = resultSets(VectorSearch.topKMulti(
      clustered, "embedding", queries, 5, "vec_id"))
    queries.zipWithIndex.foreach { case (q, i) =>
      val single = VectorSearch.topK(clustered, "embedding", q, 5,
          projection = Seq("vec_id"))
        .collect().map(_.getLong(0).toString).toSet
      assert(multi(i) == single, s"query $i: ${multi(i)} vs $single")
    }
    val pred = col("true_cluster") =!= 0
    val multiF = resultSets(VectorSearch.topKMulti(
      clustered, "embedding", queries, 5, "vec_id", Some(pred)))
    queries.zipWithIndex.foreach { case (q, i) =>
      val single = VectorSearch.topK(clustered, "embedding", q, 5, Some(pred),
          projection = Seq("vec_id"))
        .collect().map(_.getLong(0).toString).toSet
      assert(multiF(i) == single, s"filtered query $i")
    }
  }

  test("topKMultiTiered: one scan reproduces per-tier topKMulti exactly, " +
      "overlapping tiers included") {
    val queries = Seq(Array.fill(8)(5.0f), Array.fill(8)(-5.0f),
      Array.tabulate(8)(i => if (i % 2 == 0) 5.0f else -5.0f))
    // nested + partial-overlap tiers, like the bench's selectivity preds
    val preds = Seq(
      col("true_cluster") === 0,
      col("true_cluster").isin(0, 1),
      col("true_cluster") =!= 1)
    val tiered = VectorSearch.topKMultiTiered(
        clustered, "embedding", queries, 5, "vec_id", preds)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) ->
        ((r.getDouble(3), r.getString(4))))
      .toMap
    preds.zipWithIndex.foreach { case (p, t) =>
      val per = VectorSearch.topKMulti(
          clustered, "embedding", queries, 5, "vec_id", Some(p))
        .collect()
        .map(r => (t, r.getInt(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getString(3))))
        .toMap
      per.foreach { case (key, v) =>
        assert(tiered.get(key).contains(v), s"mismatch at $key")
      }
      assert(tiered.count(_._1._1 == t) == per.size, s"tier $t cardinality")
    }
  }

  test("multi-query shapes rank ties by id string and drop null scores") {
    // duplicate vectors tie on score; "10" < "2" < "4" as strings. Row 5
    // has no vector, so its score is null for every query
    val v = Seq(Array(1f, 0f, 0f, 0f), Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(1f, 0f, 0f, 0f), null, Array(-1f, 0f, 0f, 0f), Array(.5f, .5f, 0f, 0f))
    val df = Seq(10L, 2L, 3L, 4L, 5L, 6L, 7L).zip(v)
      .toDF("vec_id", "embedding").repartition(3)
    val qs = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    val want = Seq(
      Seq(0, 1L, 1.0, "10"), Seq(0, 2L, 1.0, "2"), Seq(0, 3L, 1.0, "4"),
      Seq(0, 4L, 0.5, "7"), Seq(0, 5L, 0.0, "3"), Seq(0, 6L, -1.0, "6"),
      Seq(1, 1L, 1.0, "3"), Seq(1, 2L, 0.5, "7"), Seq(1, 3L, 0.0, "10"),
      Seq(1, 4L, 0.0, "2"), Seq(1, 5L, 0.0, "4"), Seq(1, 6L, 0.0, "6"))
    assert(rows(VectorSearch.topKMulti(df, "embedding", qs, 10, "vec_id")) == want)
    // the cut at k falls inside a tie group: the lower id strings stay
    assert(rows(VectorSearch.topKMulti(df, "embedding", qs, 3, "vec_id")) ==
      want.filter(_(1).asInstanceOf[Long] <= 3L))
    val tiered = VectorSearch.topKMultiTiered(df, "embedding", qs, 2, "vec_id",
      Seq(col("vec_id") =!= 10L, lit(true)))
    assert(rows(tiered) == Seq(
      Seq(0, 0, 1L, 1.0, "2"), Seq(0, 0, 2L, 1.0, "4"),
      Seq(0, 1, 1L, 1.0, "3"), Seq(0, 1, 2L, 0.5, "7"),
      Seq(1, 0, 1L, 1.0, "10"), Seq(1, 0, 2L, 1.0, "2"),
      Seq(1, 1, 1L, 1.0, "3"), Seq(1, 1, 2L, 0.5, "7")))
    val dir = java.nio.file.Files.createTempDirectory("ivf_ties").toString
    // the IVF build assigns every row a cell, so it takes the vectored rows
    val idx = VectorSearch.buildIvf(df.filter(col("embedding").isNotNull),
      "embedding", 2, dir, sampleFraction = 1.0)
    idx.tuning = idx.tuning.copy(exactScanFraction = 0.0)
    assert(rows(idx.searchMulti(spark, qs, 10, nprobe = 2, "vec_id")) == want)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("buildIvf fails closed on null vectors, naming the column and count") {
    val v = Seq(Array(1f, 0f), null, Array(0f, 1f), null, Array(1f, 1f))
    val df = (1L to 5L).zip(v).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_nullvec").toString
    // both fit paths: the driver Lloyd (fraction 1) and the sampled one
    Seq(1.0, Double.NaN).foreach { f =>
      val e = intercept[IllegalArgumentException](
        VectorSearch.buildIvf(df, "embedding", 2, dir, sampleFraction = f))
      assert(e.getMessage.contains("2 row(s) have a null vector in column 'embedding'"),
        e.getMessage)
    }
    // nothing was written: no data file, no committed manifest
    import scala.jdk.CollectionConverters._
    val left = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try assert(left.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .isEmpty)
    finally left.close()
    intercept[Exception](VectorSearch.IvfIndex.load(spark, dir))
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("k <= 0 returns no rows from every top-k entry point") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_k0").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    val q = Array.fill(8)(5.0f)
    def names(df: org.apache.spark.sql.DataFrame) = df.schema.fieldNames.toSeq
    Seq(0, -1).foreach { k =>
      val top = VectorSearch.topK(clustered, "embedding", q, k,
        projection = Seq("vec_id"))
      assert(top.collect().isEmpty && names(top) == Seq("vec_id", "score"))
      val hits = idx.search(spark, q, k, nprobe = 1)
      assert(hits.collect().isEmpty && names(hits).contains("score"))
      val multi = Seq(
        VectorSearch.topKMulti(clustered, "embedding", Seq(q), k, "vec_id"),
        idx.searchMulti(spark, Seq(q), k, nprobe = 1, "vec_id"))
      multi.foreach { df =>
        assert(df.collect().isEmpty)
        assert(df.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
          "query_id" -> "int", "rank" -> "bigint", "score" -> "double",
          "vec_id" -> "string"))
      }
      val tiered = VectorSearch.topKMultiTiered(clustered, "embedding",
        Seq(q), k, "vec_id", Seq(lit(true)))
      assert(tiered.collect().isEmpty &&
        names(tiered) == Seq("tier_id", "query_id", "rank", "score", "vec_id"))
    }
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("smallFitProbeRows: large fits always stay distributed, " +
      "driver-sized fits are admitted") {
    // scale shape: a k-cell build trains on ~256*k rows; at k = 4096 that
    // sample must exceed the admission rule at EVERY dimension, so the
    // fit goes to the distributed path (and at k >= 512 the hierarchical
    // fit takes over before this gate is even consulted)
    val bigSample = 256L * 4096L
    def probeRows(d: Int, k: Int) =
      VectorSearch.smallFitProbeRows(d, k, VectorSearch.smallFitMaxRows)
    Seq(16, 64, 384, 2688, 8192).foreach { d =>
      assert(probeRows(d, 4096) < bigSample,
        s"k=4096 d=$d must stay distributed")
    }
    // the bench's own flat fits stay admitted: 16 cells over 10k x 2688
    // and over 50k x 64 (byte-normalized rows gate)
    assert(probeRows(2688, 16) >= 10000L)
    assert(probeRows(64, 16) >= 50000L)
    // flop ceiling binds before the byte budget as k grows at fixed d
    assert(probeRows(2688, 256) < probeRows(2688, 16))
    // a zero budget admits nothing
    assert(VectorSearch.smallFitProbeRows(2688, 16, 0) == 0L)
  }

  test("searchMulti: union probe masked per query matches per-query search") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_multi").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    val queries = Seq(Array.fill(8)(5.0f), Array.fill(8)(-5.0f))
    // nprobe 1: each query probes a DIFFERENT cluster; the union scan must
    // still keep each query's hits inside its own probe set
    val multi = resultSets(idx.searchMulti(spark, queries, 10, nprobe = 1,
      "vec_id"))
    queries.zipWithIndex.foreach { case (q, i) =>
      val single = idx.search(spark, q, 10, nprobe = 1)
        .select(col("vec_id")).collect().map(_.getLong(0).toString).toSet
      assert(multi(i) == single, s"query $i: ${multi(i)} vs $single")
    }
    // filtered + exact-fallback parity: an ultra-selective predicate must
    // widen the affected query in both paths
    val pred = col("vec_id") < 6
    val multiF = resultSets(idx.searchMulti(spark, queries, 10, nprobe = 1,
      "vec_id", Some(pred)))
    queries.zipWithIndex.foreach { case (q, i) =>
      val single = idx.search(spark, q, 10, nprobe = 1, Some(pred))
        .select(col("vec_id")).collect().map(_.getLong(0).toString).toSet
      assert(multiF(i) == single, s"filtered query $i: ${multiF(i)} vs $single")
    }
    // k = 50 exceeds a cluster's 40 rows: unmasked, each query would fill
    // its top-k from the other query's cell
    val multiK = resultSets(idx.searchMulti(spark, queries, 50, nprobe = 1,
      "vec_id", exactFallback = false))
    queries.zipWithIndex.foreach { case (q, i) =>
      val single = idx.search(spark, q, 50, nprobe = 1, exactFallback = false)
        .select(col("vec_id")).collect().map(_.getLong(0).toString).toSet
      assert(multiK(i) == single, s"k = 50 query $i: ${multiK(i)} vs $single")
    }
  }

  test("defaultNumClusters follows ~sqrt(n) with clamps; auto build keeps recall") {
    assert(VectorSearch.defaultNumClusters(1L) == 4)      // floor
    assert(VectorSearch.defaultNumClusters(10000L) == 100)
    assert(VectorSearch.defaultNumClusters(10000000L) == 3162)
    assert(VectorSearch.defaultNumClusters(Long.MaxValue) == 65536) // cap
    val dir = java.nio.file.Files.createTempDirectory("ivf_auto").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 0, dir)
    assert(idx.centroids.length == VectorSearch.defaultNumClusters(120),
      s"derived ${idx.centroids.length}")
    // recall at the derived count: probing ~1/3 of the derived clusters
    // must still recover the aligned true cluster's top hits
    val q = Array.fill(8)(5.0f)
    val np = math.max(1, idx.centroids.length / 3)
    val approx = idx.search(spark, q, 10, nprobe = np)
      .select(lit(0L).as("qid"), col("vec_id"))
    val exact = VectorSearch.topK(clustered, "embedding", q, 10,
      projection = Seq("vec_id")).select(lit(0L).as("qid"), col("vec_id"))
    val recall = VectorSearch.recallAtK(exact, approx, "qid", "vec_id", 10)
      .head().getDouble(0)
    assert(recall >= 0.9, s"recall $recall at derived count with nprobe $np")
  }

  test("conjunction filters: occupancy candidates prune the count scan, counts stay exact") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_conj").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("true_cluster"))
    // bare handle: same routing state, NO occupancy — its count scans are
    // the unpruned ground truth the fast path must reproduce exactly
    val bare = new VectorSearch.IvfIndex(dir, idx.centroids, idx.baselineDist,
      idx.radii, idx.rmsRadii, idx.cellCounts)
    val f = col("true_cluster") === 1 && col("vec_id") % 2 === 0
    val q = Array.fill(8)(-5.0f)
    assert(idx.probePlan(spark, Seq(q), 5, 1, Some(f), exactFallback = true)
      == bare.probePlan(spark, Seq(q), 5, 1, Some(f), exactFallback = true))
    // end-to-end: filtered search through the pruned-count plan matches
    // the exact answer
    val got = idx.search(spark, q, 5, nprobe = 1, Some(f))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val want = VectorSearch.topK(clustered, "embedding", q, 5, Some(f),
      projection = Seq("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got == want)
    // a conjunction whose categorical term matches nothing falls through
    // to the full scan (zero-trust backstop) and returns empty, not junk
    val none = col("true_cluster") === 77 && col("vec_id") >= 0
    assert(idx.search(spark, q, 5, 1, Some(none)).count() == 0L)
  }

  test("manifest checkpoints are versioned and atomic: crashed writes stay invisible") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("ivf_mversion").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("true_cluster"))
    val root = new Path(s"$dir/_graft_manifest")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versions(): Seq[String] =
      fs.listStatus(root).map(_.getPath.getName).filter(_.startsWith("v"))
        .sorted.toSeq
    assert(versions() == Seq("v00000001"))
    // a crashed checkpoint = a version dir WITHOUT the commit marker;
    // load must keep serving the last committed version
    fs.mkdirs(new Path(root, "v00000099/cells"))
    fs.create(new Path(root, "v00000099/cells/garbage.parquet")).close()
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.centroids.length == 3)
    assert(loaded.occupancyTable == idx.occupancyTable)
    // the next checkpoint lands ABOVE every existing dir (no collision
    // with the crashed writer's number) and vacuums below the keep floor
    idx.saveManifest(spark)
    idx.saveManifest(spark)
    val vs = versions()
    assert(vs.contains("v00000101") && vs.contains("v00000100"),
      s"expected versions past the crashed dir, got $vs")
    assert(!vs.contains("v00000001"), s"old version not vacuumed: $vs")
    assert(VectorSearch.IvfIndex.load(spark, dir)
      .occupancyTable == idx.occupancyTable)
    // the manifest tree stays invisible to the index's own data scans
    assert(spark.read.parquet(dir).count() == 120L)
    // layouts this reader does not know fail closed with the rebuild
    // remedy: a committed version holding per-section dirs and no
    // `manifest` dataset...
    val old = java.nio.file.Files.createTempDirectory("ivf_oldmf").toString
    val oldRoot = new Path(s"$old/_graft_manifest")
    fs.mkdirs(new Path(oldRoot, "v00000001/cells"))
    fs.create(new Path(oldRoot, "v00000001/cells/part-0.parquet")).close()
    fs.create(new Path(oldRoot, "v00000001/_graft_commit")).close()
    val noManifest = intercept[IllegalArgumentException](
      VectorSearch.IvfIndex.load(spark, old))
    assert(noManifest.getMessage.contains("rebuild the index"),
      noManifest.getMessage)
    // ...and a directory with no committed version at all
    val bare = java.nio.file.Files.createTempDirectory("ivf_nomf").toString
    fs.mkdirs(new Path(s"$bare/_graft_manifest/v00000001/cells"))
    val noVersion = intercept[IllegalArgumentException](
      VectorSearch.IvfIndex.load(spark, bare))
    assert(noVersion.getMessage.contains("rebuild the index"),
      noVersion.getMessage)
  }

  test("manifest with a registered but all-null occupancy column stays loadable") {
    // all values null at build => the column's occupancy table exists but
    // is EMPTY; the version must still write an occupancy dataset or
    // every later load of the committed artifact throws
    val dir = java.nio.file.Files.createTempDirectory("ivf_nullocc").toString
    val withNull = clustered
      .withColumn("all_null", lit(null).cast("string"))
    val idx = VectorSearch.buildIvf(withNull, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("all_null"))
    assert(idx.occupancyTable.get("all_null").exists(_.isEmpty))
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.centroids.length == 3)
    val q = Array.fill(8)(5.0f)
    assert(loaded.search(spark, q, 5, nprobe = 3).count() == 5L)
  }

  test("refresh() stands down occupancy pruning so conjunction counts stay exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf_refresh").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("true_cluster"))
    // another HANDLE appends: vectors land durably, but THIS handle's
    // occupancy never sees them
    val other = VectorSearch.IvfIndex.load(spark, dir)
    // a cluster-0-aligned vector labeled true_cluster=2: its cell gains
    // its FIRST occurrence of value 2, which stale occupancy would prune
    val q = Array.fill(8)(5.0f)
    val alien = Seq((777L, 2, Array.fill(8)(9.0f)))
      .toDF("vec_id", "true_cluster", "embedding")
    other.append(alien, "embedding")
    idx.refresh()
    // conjunction filter: categorical equality (the pruning trigger) AND
    // a range term. Post-refresh the count scan must include the alien
    // row's cell, so the filtered search can find it.
    val hits = idx.search(spark, q, 1, nprobe = 3,
        filter = Some(col("true_cluster") === 2 && col("vec_id") > 500L))
      .select("vec_id").as[Long].collect()
    assert(hits.toSeq == Seq(777L),
      s"stale-occupancy pruning lost the appended row: ${hits.toSeq}")
  }

  test("cost-based switch: wide probe plans run the exact scan, equal-or-better recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val hubs = Array.fill(8)(Array.fill(8)(rnd.nextFloat() * 10 - 5))
    // `cat = wide` on half the rows, spread over every cell — the shape
    // whose probe plan must visit most of the index to find k matches
    val corpus = (0 until 1000).map { i =>
      val h = hubs(i % 8)
      (i.toLong, if (i % 2 == 0) "wide" else "narrow",
        h.map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "cat", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_switch").toString
    val idx = VectorSearch.buildIvf(corpus, "embedding", 64, dir,
      sampleFraction = 1.0, occupancyCols = Seq("cat"))
    locally {
      val qvecs = (0 until 4).map(h => hubs(h).clone()).toSeq
      val filter = col("cat") === "wide"
      val exact = VectorSearch.topKMulti(corpus, "embedding", qvecs, 50,
          "vec_id", Some(filter)).collect().groupBy(_.getInt(0))
        .view.mapValues(_.map(_.getString(3)).toSet).toMap
      def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
        val got = df.collect().groupBy(_.getInt(0))
          .view.mapValues(_.map(_.getString(3)).toSet).toMap
        qvecs.indices.map { i =>
          exact(i).intersect(got.getOrElse(i, Set.empty)).size.toDouble /
            exact(i).size
        }.sum / qvecs.length
      }
      // switch disabled on this handle's Tuning: the plain probe path at
      // nprobe 16 of 64
      idx.tuning = idx.tuning.copy(exactScanFraction = 0.0)
      val probed = recallOf(
        idx.searchMulti(spark, qvecs, 50, 16, "vec_id", Some(filter)))
      assert(idx.exactSwitchCount == 0L)
      // switch armed (fixture is only 64 cells, so lower the gate): the
      // wide filter's plan crosses the fraction and runs exact
      idx.tuning = idx.tuning.copy(exactScanFraction = 0.125,
        exactScanMinCells = 2)
      val switched = recallOf(
        idx.searchMulti(spark, qvecs, 50, 16, "vec_id", Some(filter)))
      assert(idx.exactSwitchCount == 1L,
        s"switch did not fire (count ${idx.exactSwitchCount})")
      assert(switched == 1.0, s"exact path recall $switched")
      assert(switched >= probed, s"switched $switched < probed $probed")
      // single-query search() takes the same decision
      val one = idx.search(spark, qvecs.head, 50, 16, Some(filter))
      assert(one.count() == 50L)
      assert(idx.exactSwitchCount == 2L)
      // a narrow filter's plan stays on the probe path — with the r12
      // thin-support scan disabled per handle (it would legitimately
      // grow this 16-match plan to ALL its match-bearing cells, which
      // can cross the forced 12.5% gate; this sub-check pins the switch
      // decision, not the support scan, so it runs at the classic plan
      // shape), and with the wall-aware per-file term priced at 0 (the
      // next spec pins that term; this one pins the row-volume rule)
      idx.tuning = idx.tuning.copy(thinFactor = 0.0)
      val narrowHits =
        withConf(GraftConf.IvfProbeCellOverheadRows.key -> "0") {
          idx.search(spark, qvecs.head, 5, 2, Some(col("vec_id") < 16L))
        }
      assert(narrowHits.count() <= 5L)
      // nprobe-2-of-64 cells hold < 12.5% of rows: no new switch
      assert(idx.exactSwitchCount == 2L)
    }
  }

  test("wall-aware switch term: per-file cost flips a narrow-rows many-cells plan to exact; forced-fraction handles keep the classic rule") {
    // r14: exactScanWins' second term prices each planned file at
    // graft.ivf.probeCellOverheadRows row-equivalents and switches when
    // that outweighs the extra rows the exact scan streams. Contracts
    // pinned here on one fixture:
    //   1. a plan far BELOW the fraction gate still switches when the
    //      per-file price says so (results stay recall-1.0-correct);
    //   2. a price <= 0 disables the term (classic behavior);
    //   3. a handle whose switch is off (exactScanFraction <= 0) never
    //      switches, whatever the session price;
    //   4. unfiltered probes never take it (nprobe is a contract).
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val hubs = Array.fill(8)(Array.fill(8)(rnd.nextFloat() * 10 - 5))
    // rare rows live ONLY in hubs 0 and 2 (i % 50 == 0 hits i % 8 in
    // {0, 2, 4, 6}; the < 4 cut keeps hubs 0 and 2) — the thin-support
    // plan then covers a strict SUBSET of cells, so the decision goes
    // through exactScanWins rather than the plan==all-cells shortcut
    val corpus = (0 until 1000).map { i =>
      val h = hubs(i % 8)
      (i.toLong, if (i % 50 == 0 && i % 8 < 4) "rare" else "common",
        h.map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "cat", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf_wall").toString
    try {
      val idx = VectorSearch.buildIvf(corpus, "embedding", 8, dir,
        sampleFraction = 1.0, occupancyCols = Seq("cat"))
      // 8-cell fixture sits below the 256 floor
      idx.tuning = idx.tuning.copy(exactScanMinCells = 2)
      val filter = col("cat") === "rare" // 1% of rows, in ~2 of 8 cells
      val q = hubs(0)
      // term disabled by a zero price: the thin/widened plan probes
      val probed = withConf(GraftConf.IvfProbeCellOverheadRows.key -> "0") {
        idx.search(spark, q, 10, nprobe = 2, Some(filter))
          .select("vec_id").as[Long].collect().toSet
      }
      assert(idx.exactSwitchCount == 0L, "term disabled yet switch fired")
      withConf(GraftConf.IvfProbeCellOverheadRows.key -> "1e9") {
        // term priced high: planned files x price >= remaining rows -> exact
        val switched = idx.search(spark, q, 10, nprobe = 2, Some(filter))
          .select("vec_id").as[Long].collect().toSet
        assert(idx.exactSwitchCount == 1L,
          s"wall term did not switch (${idx.exactSwitchCount})")
        // exact path is a superset-or-equal answer at the same k
        assert(probed.subsetOf(switched) || switched == probed,
          s"exact answer lost probed hits: $probed vs $switched")
        // unfiltered: same handle, same price — never switches
        idx.search(spark, q, 10, nprobe = 2, None).collect()
        assert(idx.exactSwitchCount == 1L,
          "unfiltered probe took the wall term")
        // switch off on the handle: the session price must not apply
        idx.tuning = idx.tuning.copy(exactScanFraction = 0.0)
        idx.search(spark, q, 10, nprobe = 2, Some(filter)).collect()
        assert(idx.exactSwitchCount == 1L,
          "switched-off handle took the session wall term")
      }
    } finally graft.FsUtil.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("exact-switch overrides are per-handle: a forced handle leaves siblings and globals alone") {
    // r11: harnesses force the switch through a handle's Tuning
    // (exactScanFraction / exactScanMinCells) — two handles over
    // different indexes must not see each other's overrides, and the
    // Tuning defaults must stay at production values throughout.
    val rnd = new scala.util.Random(7)
    val hubs = Array.fill(4)(Array.fill(8)(rnd.nextFloat() * 20 - 10))
    val corpus = (0 until 200).map { i =>
      (i.toLong, hubs(i % 4).map(v => v + rnd.nextFloat() - 0.5f))
    }.toDF("vec_id", "embedding")
    val d1 = java.nio.file.Files.createTempDirectory("sw_h1").toString
    val d2 = java.nio.file.Files.createTempDirectory("sw_h2").toString
    val idx1 = VectorSearch.buildIvf(corpus, "embedding", 8, d1,
      sampleFraction = 1.0)
    val idx2 = VectorSearch.buildIvf(corpus, "embedding", 8, d2,
      sampleFraction = 1.0)
    idx1.tuning = idx1.tuning.copy(exactScanFraction = 0.01,
      exactScanMinCells = 2)
    val q = hubs(0)
    // every cell holds ≥ 1/8 of rows, far past idx1's 1% forced fraction
    idx1.search(spark, q, 10, nprobe = 2,
      Some(col("vec_id") >= 0L)).collect()
    idx2.search(spark, q, 10, nprobe = 2,
      Some(col("vec_id") >= 0L)).collect()
    assert(idx1.exactSwitchCount == 1L, s"forced handle: ${idx1.exactSwitchCount}")
    // sibling handle stays on the production gate (8 cells < 256 floor)
    assert(idx2.exactSwitchCount == 0L, s"sibling handle: ${idx2.exactSwitchCount}")
    val defaults = VectorSearch.IvfIndex.Tuning()
    assert(defaults.exactScanFraction == 0.8 &&
      defaults.exactScanMinCells == 256,
      "production defaults moved")
    assert(idx2.tuning == defaults,
      "sibling handle saw a per-handle override")
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(d1))
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(d2))
  }

  test("hierarchical fit: same recall contract as the flat fit") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_hier").toString
    // largePathMinCells = 2 forces the two-level fit (and the grouped
    // assignment) on this 3-cell build
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir,
      sampleFraction = 1.0, occupancyCols = Seq("true_cluster"),
      largePathMinCells = 2)
    assert(idx.builtWithHierarchicalFit && idx.builtWithGroupedAssign)
    assert(idx.centroids.length == 3, s"got ${idx.centroids.length} centroids")
    assert(idx.cellCounts.sum == 120L)
    val q = Array.fill(8)(5.0f)
    val approx = idx.search(spark, q, 10, nprobe = 1)
      .select(lit(0L).as("qid"), col("vec_id"))
    val exact = VectorSearch.topK(clustered, "embedding", q, 10,
      projection = Seq("vec_id")).select(lit(0L).as("qid"), col("vec_id"))
    val recall = VectorSearch.recallAtK(exact, approx, "qid", "vec_id", 10)
      .head().getDouble(0)
    assert(recall == 1.0, s"hierarchical-fit recall $recall")
    // manifest round trip unaffected by the fit path
    val loaded = VectorSearch.IvfIndex.load(spark, dir)
    assert(loaded.centroids.length == 3)
  }

  test("allocateCentroids: proportional, capped by group size, sums to budget") {
    val even = VectorSearch.allocateCentroids(
      Map(0 -> 100L, 1 -> 100L, 2 -> 100L, 3 -> 100L), 8)
    assert(even.values.sum == 8 && even.values.forall(_ == 2), s"$even")
    val skewed = VectorSearch.allocateCentroids(
      Map(0 -> 900L, 1 -> 50L, 2 -> 50L), 10)
    assert(skewed.values.sum == 10 && skewed(0) >= 8, s"$skewed")
    // cap: a group cannot host more centroids than points
    val capped = VectorSearch.allocateCentroids(Map(0 -> 2L, 1 -> 100L), 10)
    assert(capped.values.sum == 10 && capped.getOrElse(0, 0) <= 2, s"$capped")
    // budget larger than total mass degrades to one centroid per point
    val tiny = VectorSearch.allocateCentroids(Map(0 -> 3L, 1 -> 2L), 100)
    assert(tiny.values.sum == 5, s"$tiny")
    assert(VectorSearch.allocateCentroids(Map.empty, 5).isEmpty)
  }

  test("localLloyd: row-order-independent, converges, survives duplicate-point reseed") {
    val rnd = new scala.util.Random(11)
    val pts = Array.tabulate(300) { i =>
      val c = i % 3
      Array.tabulate(4)(_ => c * 10f + rnd.nextFloat() * 0.5f)
    }
    val a = VectorSearch.localLloyd(pts, 3, 7L, 10)
    val shuffled = rnd.shuffle(pts.toIndexedSeq).toArray
    val b = VectorSearch.localLloyd(shuffled, 3, 7L, 10)
    def canon(cs: Array[Array[Float]]) = cs.sortBy(_.head)
    canon(a).zip(canon(b)).foreach { case (ca, cb) =>
      ca.zip(cb).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-3, s"order-dependent centroid: $x vs $y")
      }
    }
    // centroids sit near the 3 true cluster centers
    assert(canon(a).map(_.head.round).toSeq == Seq(0, 10, 20))
    // exact duplicates force identical init centroids; the loser cell
    // goes empty and must reseed rather than divide by zero
    val dupPts = Array.fill(10)(Array(0.0f, 0.0f)) ++
      Array.tabulate(10)(i => Array(10.0f + i * 0.01f, 10.0f))
    val c = VectorSearch.localLloyd(dupPts, 3, 5L, 10)
    assert(c.length == 3)
    assert(c.forall(_.forall(v => !v.isNaN)), "NaN centroid after empty cell")
    // parallel and serial paths agree
    val d = VectorSearch.localLloyd(pts, 3, 7L, 10, parallel = true)
    canon(a).zip(canon(d)).foreach { case (ca, cd) =>
      ca.zip(cd).foreach { case (x, y) => assert(math.abs(x - y) < 1e-3) }
    }
  }

  test("driftRatio from the stored __dist column equals the kernel recomputation") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_drift15").toString
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    val batch = clustered.limit(7)
    idx.append(batch, "embedding")
    assert(idx.hasDistColumn)
    val viaColumn = idx.driftRatio(spark, sampleFraction = 1.0)
    // frozen centroids: the stored assigned distance IS what the kernel
    // recomputes over the build rows plus the appended batch — averaging
    // order aside, the two must agree
    val viaKernel = clustered.union(batch)
      .select(avg(graft.functions.nearest_centroid_dist(col("embedding"),
        idx.centroids))).head().getDouble(0)
    assert(math.abs(viaColumn * idx.baselineDist - viaKernel) < 1e-9,
      s"column ${viaColumn * idx.baselineDist} != kernel $viaKernel")
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("centroid_dist_at equals the assignment kernel's distance at the chosen cell") {
    val rnd = new scala.util.Random(21)
    val cents = Array.fill(5)(Array.fill(8)(rnd.nextFloat() * 4 - 2))
    val vecs = (0 until 64).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat() * 4 - 2))).toDF("id", "v")
    val rows = vecs.select(col("v"),
        graft.functions.nearest_centroid(col("v"), cents).as("c"),
        graft.functions.nearest_centroid_dist(col("v"), cents).as("dk"))
      .select(col("c"),
        col("dk"),
        graft.functions.centroid_dist_at(col("v"), col("c"), cents).as("dg"))
      .collect()
    // same cell in, BIT-identical distance out (same |x|²+|c|²−2xc form,
    // same accumulation order, same clamp) — the contract that makes the
    // one-pass build stats exactly the two-pass values
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"kernel ${r.getDouble(1)} != dist_at ${r.getDouble(2)}")
    }
  }

  test("one-pass build stats equal a two-pass kernel recomputation (r15 contract)") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_1pass").toString
    // fraction 1.0 by construction (n=120 < trainTarget): the written
    // __dist aggregation must reproduce the r14 sample-side two-pass
    // stats exactly — radii bit-equal, RMS/baseline to float-sum order
    val idx = VectorSearch.buildIvf(clustered, "embedding", 3, dir)
    val (asg, dist) = VectorSearch.assignKernels(idx.centroids)
    val twoPass = clustered.select(asg(col("embedding")).as("c"),
        dist(col("embedding")).as("d"))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("s"), max(col("d")).as("m"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    (0 until 3).foreach { c =>
      val (n, s, m) = twoPass(c)
      assert(idx.cellCounts(c) == n, s"cell $c count")
      assert(idx.radii(c) == math.sqrt(m), s"cell $c max radius")
      assert(math.abs(idx.rmsRadii(c) - math.sqrt(s / n)) < 1e-9,
        s"cell $c rms")
    }
    val totalN = twoPass.values.map(_._1).sum
    val baseline = twoPass.values.map(_._2).sum / totalN
    assert(math.abs(idx.baselineDist - baseline) < 1e-9, "baseline")
    // the layout carries __dist; search results must not
    val written = spark.read.parquet(dir)
    assert(written.columns.contains("__dist"))
    assert(written.filter(col("__dist") < 0).count() == 0L)
    val hit = idx.search(spark, Array.fill(8)(5.0f), 3, nprobe = 3)
    assert(!hit.columns.contains("__dist") && !hit.columns.contains("__vec"))
    // appended batches keep the file schema uniform (hasDistColumn)
    val extra = Seq((900L, 0, Array.fill(8)(5.2f)))
      .toDF("vec_id", "true_cluster", "embedding")
    idx.append(extra, "embedding")
    assert(spark.read.parquet(dir).filter(col("__dist").isNull).count() == 0L)
    FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
