package graft

import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog near the river shore"), // near dup of 0
    (3L, "completely different content about spark query engines and columnar formats"),
    (4L, "der schnelle braune fuchs springt und der hund schlaeft und der")
  ).toDF("doc_id", "text")

  test("exact dedup keeps lowest id per distinct text") {
    val out = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(0L, 2L, 3L, 4L))
  }

  test("minhash signatures: identical docs have identical signatures") {
    val sigs = Dedup.minhashSignatures(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0 until 8).foreach { s =>
      assert(sigs((0L, s.toLong)) == sigs((1L, s.toLong)))
    }
  }

  test("near-duplicate pipeline finds planted dup and near-dup pairs only") {
    val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id", threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    // near-dup 0↔2 shares most shingles; must be found by LSH + survive 0.5
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    // unrelated docs must not pair
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("dropNearDuplicates keeps the lowest id of each near-dup pair") {
    val out = Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    // 1 (exact dup of 0) and 2 (near dup of 0) drop; 0, 3, 4 survive
    assert(out.toSeq == Seq(0L, 3L, 4L))
  }

  test("dropNearDuplicates on a high-dup corpus (large drop set, no broadcast hint)") {
    // 200 docs in 20 groups of 10 exact duplicates each: the drop set is
    // 90% of the corpus — the regime where an unconditional broadcast of the
    // losers would be wrong at scale. The unhinted anti-join must still
    // produce exactly one survivor (the lowest id) per group.
    val corpus = (0L until 200L).map { i =>
      (i, s"group ${i / 10} shares this identical sentence about topic ${i / 10} repeated verbatim")
    }.toDF("doc_id", "text")
    val out = Dedup.dropNearDuplicates(corpus, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == (0L until 200L by 10L).toSeq)
  }

  test("jaccard of exact duplicates is 1.0") {
    val cands = Seq((0L, 1L)).toDF("id1", "id2")
    val j = Dedup.jaccardVerify(docs, "text", "doc_id", cands)
      .head().getDouble(2)
    assert(j === 1.0)
  }

  test("simhash: identical docs equal, different docs differ") {
    val sh = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(0L) == sh(1L))
    assert(sh(0L).length == 32 && sh(0L).forall(c => c == '0' || c == '1'))
    assert(sh(0L) != sh(3L))
    // near-dup should be within small hamming distance
    val ham = sh(0L).zip(sh(2L)).count { case (a, b) => a != b }
    assert(ham <= 8, s"hamming $ham too large for near-dup")
  }

  test("simhashWord encodes the same bits as the string signature") {
    val str = Dedup.simhash(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val word = Dedup.simhashWord(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    str.foreach { case (id, bits) =>
      assert(word(id) == java.lang.Long.parseLong(bits, 2),
        s"doc $id: word ${word(id)} != bits $bits")
    }
  }

  test("simhashNearDupPairs matches brute-force pairs at the threshold") {
    val sig = Dedup.simhashWord(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i, si) <- sig; (j, sj) <- sig if i < j
      h = java.lang.Long.bitCount(si ^ sj) if h <= 2
    } yield (i, j, h.toLong)).toSet
    val banded = Dedup.simhashNearDupPairs(docs, "text", "doc_id",
        maxHamming = 2, bands = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute)
    // identical docs 0 and 1 must surface at hamming 0
    assert(banded.contains((0L, 1L, 0L)))
  }

  test("simhashNearDupPairs rejects a lossy banding configuration") {
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, "text", "doc_id",
        maxHamming = 4, bands = 4)
    }
  }

  test("embedding near-dup pairs finds planted duplicate vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (1L, Array(1.0f, 0.01f, 0.2f, 0.1f)), // near-dup of 0
      (2L, Array(-1.0f, 0.5f, -0.2f, 0.3f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "embedding", "vec_id",
      threshold = 0.99, planes = 2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("shingles: doc shorter than k produces no rows") {
    val tiny = Seq((0L, "one two")).toDF("doc_id", "text")
    assert(TextAnalysis.shingles(tiny, "text", 3, "doc_id").count() == 0)
  }

  test("dropDuplicatesAgainst drops batch dups of corpus, keeps fresh docs") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "an entirely different reference document about spark plans"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"), // dup of 0
      (3L, "completely novel content that matches nothing in the corpus"),
      (5L, "completely novel content that matches nothing in the corpus"), // dup of 3 (batch-internal)
      (7L, "another fresh and unique piece of batch text entirely"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropDuplicatesAgainst(batch, corpus, "text", "doc_id",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1 loses to corpus 0; 5 loses to batch 3 (lower id wins); 3 and 7 stay
    assert(kept == Seq(3L, 7L))
  }

  test("interactive (lazy-leaf) and forced-barrier modes agree, lazily cheaper") {
    // same corpus/batch through both execution modes: results must be
    // identical, and the interactive default must launch no MORE jobs
    // than the forced-barrier path (it elides the repPairs/fingerprint
    // checkpoint jobs; the memo is cleared between runs so each mode
    // derives its own frames)
    val corpus = (0L until 40L by 2L).map(i =>
      (i, s"corpus sentence number ${i / 2} about topic ${i % 6} with shared boilerplate tail"))
      .toDF("doc_id", "text")
    val batch = (1L until 40L by 2L).map(i =>
      (i, if (i < 11) s"corpus sentence number ${(i - 1) / 2} about topic ${(i - 1) % 6} with shared boilerplate tail"
          else s"novel batch document ${i} with its own distinct words entirely"))
      .toDF("doc_id", "text")
    def jobsDuring(f: => Seq[Long]): (Seq[Long], Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { val r = f; Thread.sleep(300); (r, n.get()) }
      finally spark.sparkContext.removeSparkListener(l)
    }
    def run(): Seq[Long] =
      Dedup.dropDuplicatesAgainst(batch, corpus, "text", "doc_id",
        threshold = 0.5).select("doc_id").as[Long].collect().sorted.toSeq
    Dedup.clearMemo(spark)
    val (lazyRes, lazyJobs) = jobsDuring(run())
    Dedup.clearMemo(spark)
    val (barrierRes, barrierJobs) =
      withConf(GraftConf.DedupInlineMaxBytes.key -> "0")(jobsDuring(run()))
    Dedup.clearMemo(spark)
    assert(lazyRes == barrierRes)
    assert(lazyRes.take(3) == Seq(11L, 13L, 15L)) // dup half dropped
    assert(lazyJobs <= barrierJobs,
      s"interactive mode ran $lazyJobs jobs vs $barrierJobs with barriers")
  }

  test("dropDuplicatesAgainst catches exact dups too short for shingles") {
    val corpus = Seq((0L, "hello world")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "hello world"),   // exact dup of corpus, only 2 words (< k=3)
      (3L, "short text"),
      (5L, "short text"),    // exact dup of batch 3
      (7L, "fresh one"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropDuplicatesAgainst(batch, corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 7L))
  }

  test("semanticDedup drops near-identical vectors within a cluster only") {
    val c0 = Array.fill(4)(1.0f)
    val c1 = Array.fill(4)(-1.0f)
    val df = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(1.01f, 1.0f, 1.0f, 0.99f)),   // ~cosine 1 with id 1 → drop
      (3L, Array(1.0f, 1.0f, -0.8f, -0.8f)),   // same cluster, low cosine → keep
      (4L, Array(-1.0f, -1.0f, -1.0f, -1.0f)), // other cluster: identical
      (5L, Array(-1.0f, -1.0f, -1.0f, -1.0f))) //   direction to 4 → drop
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "embedding", "vec_id",
        Array(c0, c1), threshold = 0.99)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("connected components labels transitive clusters by min id") {
    // two chains and an isolated pair: {1,2,3,4} via 1-2,2-3,3-4; {10,11};
    // node 20 appears only as a dst
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components converges on a long chain") {
    // a 40-node path needs label 0 to travel 39 hops; propagation doubles
    // nothing (plain min-label), so this exercises the iteration loop hard
    val edges = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponents(edges, "a", "b", maxIter = 50)
      .select("cluster").distinct().collect().map(_.getLong(0)).toSeq
    assert(labels == Seq(0L))
  }

  test("leakageSafeSplit keeps every near-dup cluster inside one split") {
    // 60 singleton docs + the planted dup cluster {0,1,2}: enough rows that
    // a per-doc hash split would scatter most clusters across splits
    val extra = (5L until 65L).map(i => (i, s"unique document number $i about topic ${i % 7}"))
    val corpus = (docs.as[(Long, String)].collect().toSeq ++ extra)
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(corpus, "text", "doc_id", threshold = 0.5)
    val out = Dedup.leakageSafeSplit(corpus, "doc_id", pairs, "id1", "id2",
        Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
      .select("doc_id", "rep", "split").as[(Long, Long, String)].collect()
    assert(out.length == 65)
    // every rep maps to exactly one split (the leakage guarantee)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).distinct.length == 1)
    }
    // docs 0,1,2 form one cluster with representative 0
    val cluster = out.filter(r => Set(0L, 1L, 2L).contains(r._1))
    assert(cluster.map(_._2).distinct.toSeq == Seq(0L))
    // all three splits are populated at this corpus size
    assert(out.map(_._3).distinct.toSet == Set("train", "val", "test"))
  }

  test("capNearDuplicates applies the keep-K policy over transitive clusters") {
    // {0,1,2} is one transitive cluster (0≈1 exact, 0≈2 near); 3 and 4 are
    // singletons
    val keep1 = Dedup.capNearDuplicates(docs, "text", "doc_id",
        maxCopies = 1, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keep1 == Seq(0L, 3L, 4L))
    val keep2 = Dedup.capNearDuplicates(docs, "text", "doc_id",
        maxCopies = 2, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(keep2 == Seq(0L, 1L, 3L, 4L))
  }

  test("exact-dup-heavy corpus: banded join stays linear, pair contract holds") {
    // 1500 byte-identical docs + 2 distinct docs. Pre-fix, the identical
    // docs collided on EVERY band: ~1500²/2 candidate rows per band through
    // the LSH self-join. Post-fix the banded join sees ONE representative
    // per distinct text — assert it directly on the internal stages.
    val n = 1500
    val dupes = (0L until n.toLong)
      .map(i => (i, "the same boilerplate page text repeated everywhere"))
    val corpus = (dupes ++ Seq(
      (9000L, "a genuinely unique document about spark physical plans"),
      (9001L, "another unique document concerning parquet row groups")))
      .toDF("doc_id", "text")
    // internal shape: signatures/candidates over exact representatives only
    val reps = Dedup.dropExactDuplicates(corpus, "text", "doc_id")
    val sigs = Dedup.minhashSignatures(reps, "text", "doc_id")
    assert(sigs.select("doc_id").distinct().count() == 3)
    assert(Dedup.lshCandidatePairs(sigs, "doc_id").count() == 0)
    // the public pair contract is unchanged: every member pair of the
    // exact group, jaccard 1.0, nothing across distinct texts
    val pairs = Dedup.nearDuplicatePairs(corpus, "text", "doc_id")
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
    assert(pairs.filter(col("id1") >= col("id2")).count() == 0)
    // and the linear consumer keeps exactly one representative + uniques
    val kept = Dedup.dropNearDuplicates(corpus, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 9000L, 9001L))
  }

  test("NearDupIndex dedups batches against corpus and itself incrementally") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "completely unrelated reference document about databases"))
      .toDF("doc_id", "text")
    val idx = Dedup.NearDupIndex.build(corpus, "text", "doc_id")
    // batch 1: near-dup of corpus doc 0 (one word changed), a fresh doc,
    // and an exact internal duplicate of the fresh doc
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "a genuinely new document discussing spark physical plans"),
      (12L, "a genuinely new document discussing spark physical plans"))
      .toDF("doc_id", "text")
    val s1 = idx.dedupBatch(b1, "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == Seq(11L))
    // grow with survivors: batch 2's near-dup of doc 11 is now dropped too
    val idx2 = idx.appended(b1.filter(col("doc_id") === 11L), "text")
    val b2 = Seq(
      (20L, "a genuinely new document discussing spark physical things"),
      (21L, "an entirely different text about parquet row group pruning"))
      .toDF("doc_id", "text")
    val s2 = idx2.dedupBatch(b2, "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2 == Seq(21L))
    // without the growth, batch 2's near-dup would have survived
    val s2Stale = idx.dedupBatch(b2, "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2Stale == Seq(20L, 21L))
  }

  test("estimated Jaccard: exact dups estimate 1.0, error bounded vs exact") {
    // the q37 corpus (driver testdata documents table): score every LSH
    // candidate pair in both verify modes and bound the estimator error.
    // numHashes=32 — the estimated-mode DEFAULT (Dedup.AutoNumHashes
    // resolution) — gives std-err ≤ √(J(1−J)/32) ≈ 0.09 and granularity
    // 1/32; the assertions pin a deterministic outcome (md5-derived, no
    // RNG) with comfortable margin. Decision error at the production
    // threshold 0.7: a pair whose true J sits 0.1 below the threshold is
    // mis-flagged with P ≈ Φ(−0.1/0.087) ≈ 12% at 32 seeds, vs ≈ 28% at
    // the old 8-seed default (std-err 0.17, granularity 0.125) — which is
    // why estimated mode now defaults to the precision this case
    // certifies.
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    Dedup.clearMemo(spark)
    val exact = Dedup.nearDuplicatePairs(corpus, "text", "doc_id",
        numHashes = 32, threshold = 0.0)
      .select(col("id1"), col("id2"), col("jaccard").as("j_exact"))
    val est = Dedup.estimatedNearDuplicatePairs(corpus, "text", "doc_id",
        numHashes = 32, threshold = 0.0)
      .select(col("id1"), col("id2"), col("jaccard").as("j_est"))
    // the two modes band with different signature families, so candidate
    // sets may differ at the margin — bound the estimator on the joint set
    val joined = exact.join(est, Seq("id1", "id2"))
      .select("id1", "id2", "j_exact", "j_est").collect()
    // (the independent family bands with far better precision than the
    // correlated one, so the joint set is close to the true near-dup set)
    assert(joined.length >= 20, s"only ${joined.length} joint candidate pairs")
    val errs = joined.map(r => math.abs(r.getDouble(2) - r.getDouble(3)))
    assert(errs.max <= 0.35, s"max |est - exact| = ${errs.max}")
    assert(errs.sum / errs.length <= 0.12,
      s"mean |est - exact| = ${errs.sum / errs.length}")
    // exact duplicates have identical signatures → estimate exactly 1.0
    joined.filter(_.getDouble(2) == 1.0).foreach { r =>
      assert(r.getDouble(3) == 1.0,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}): exact dup estimated at ${r.getDouble(3)}")
    }
    Dedup.clearMemo(spark)
  }

  test("band operating point: 16 bands of 2 stays the default at threshold 0.7") {
    // The r7 verdict asked whether rowsPerBand=4 (8 bands at the 32-seed
    // default) could hold the certified decision error at half the band
    // storage. Measured answer: on BOTH the driver corpus (all near-dups
    // J ≈ 1 — every operating point finds everything) and this
    // threshold-STRADDLING corpus (24 doc pairs, true shingle-Jaccard
    // 0.63–0.77 around the production threshold 0.7), the two points
    // make IDENTICAL decisions — the decision error at the threshold is
    // ESTIMATOR-dominated (std-err √(J(1−J)/32) ≈ 0.087, the error-bound
    // case above), not banding-dominated. What differs is the ANALYTIC
    // candidate floor, which compounds with the estimator on adversarial
    // corpora: P(candidate | J=0.7) = 1−(1−0.7²)¹⁶ ≈ 0.99998 at 16×2 vs
    // 1−(1−0.7⁴)⁸ ≈ 0.889 at 8×4 — an ~11% structural miss for
    // exactly-at-threshold pairs that no verify stage can recover
    // (missed candidates are never scored). The default therefore STAYS
    // rowsPerBand=2; 8×4 is the documented half-storage option for
    // thresholds ≥ 0.8, where its floor rises to ≥ 0.985 (SCALE.md r8).
    val docs = (0 until 24).flatMap { i =>
      val ov = 78 + (i % 10) // 78..87 of 100 tokens shared
      val a = (0 until 100).map(j => s"w${i}_$j").mkString(" ")
      val b = ((0 until ov).map(j => s"w${i}_$j") ++
        (ov until 100).map(j => s"v${i}_$j")).mkString(" ")
      Seq((2L * i, a), (2L * i + 1, b))
    }.toDF("doc_id", "text")
    Dedup.clearMemo(spark)
    val exact = Dedup.nearDuplicatePairs(docs, "text", "doc_id",
        threshold = 0.7)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def est(rpb: Int): Set[(Long, Long)] = {
      Dedup.clearMemo(spark)
      Dedup.estimatedNearDuplicatePairs(docs, "text", "doc_id",
          rowsPerBand = rpb, threshold = 0.7)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val b16 = est(2)
    val b8 = est(4)
    // md5-deterministic outcome, pinned: the operating points agree
    // pair-for-pair here, and the estimator (not the banding) accounts
    // for every divergence from exact
    assert(b16 == b8,
      s"banding changed decisions: only16=${b16 -- b8} only8=${b8 -- b16}")
    val rec = (exact intersect b16).size.toDouble / exact.size
    assert(rec >= 0.7, s"recall $rec vs exact on straddling pairs")
    Dedup.clearMemo(spark)
  }

  test("estimated mode flags on drop/cap agree with exact on a clear-cut corpus") {
    // exact dup (signature agreement exactly 1.0) + a STRONG near-dup
    // (one word of ~30 changed, J ≈ 0.87 — comfortably inside the
    // estimated-mode default's (32-hash) resolution) + unrelated docs:
    // both verify modes must make identical decisions
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four"
    val strong = Seq(
      (0L, base),
      (1L, base), // exact dup of 0
      (2L, base.replace("quebec", "changed")), // strong near-dup of 0
      (3L, "a completely different document about catalyst optimizer rules and codegen stages"),
      (4L, "yet another unrelated text concerning parquet footers and row group statistics"))
      .toDF("doc_id", "text")
    val exactDrop = Dedup.dropNearDuplicates(strong, "text", "doc_id",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val estDrop = Dedup.dropNearDuplicates(strong, "text", "doc_id",
        threshold = 0.5, estimatedJaccard = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(exactDrop == Seq(0L, 3L, 4L))
    assert(estDrop == exactDrop)
    val estCap = Dedup.capNearDuplicates(strong, "text", "doc_id",
        maxCopies = 2, threshold = 0.5, estimatedJaccard = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(estCap == Seq(0L, 1L, 3L, 4L))
  }

  test("NearDupIndex estimated mode: signature-sized store, same verdicts") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "completely unrelated reference document about databases"))
      .toDF("doc_id", "text")
    val idx = Dedup.NearDupIndex.build(corpus, "text", "doc_id",
      estimatedJaccard = true)
    // the 100 TB contract: no shingle/count frames exist in this mode —
    // stored state is ONE seed-ordered numHashes-long array row (r11) +
    // band keys per rep
    assert(idx.estimated && idx.shingles.isEmpty && idx.counts.isEmpty)
    assert(idx.signatures.get.count() == 2L)
    assert(idx.signatures.get.select(size(col("__sigs")))
      .as[Int].collect().forall(_ == 32))
    val b1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "a genuinely new document discussing spark physical plans"),
      (12L, "a genuinely new document discussing spark physical plans"))
      .toDF("doc_id", "text")
    val s1 = idx.dedupBatch(b1, "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s1 == Seq(11L))
    // appended growth stays signature-sized and catches cross-batch dups
    val idx2 = idx.appended(b1.filter(col("doc_id") === 11L), "text")
    assert(idx2.shingles.isEmpty && idx2.signatures.get.count() == 3L)
    val b2 = Seq(
      (20L, "a genuinely new document discussing spark physical things"),
      (21L, "an entirely different text about parquet row group pruning"))
      .toDF("doc_id", "text")
    val s2 = idx2.compacted().dedupBatch(b2, "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(s2 == Seq(21L))
    // dropDuplicatesAgainst facade agrees with the exact mode on this corpus
    val viaFacade = Dedup.dropDuplicatesAgainst(b1, corpus, "text", "doc_id",
        threshold = 0.5, estimatedJaccard = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaFacade == Seq(11L))
  }

  test("index array-form estimator decides identically to the seed-row path at the threshold") {
    // dedupBatch verifies candidates with the ARRAY-form estimator (r11:
    // one zip_with fold over the stored per-rep signature array), while
    // dropDuplicatesAgainst estimates over seed rows. Both compute the
    // same agreement count, so their verdicts must be identical even on
    // threshold-STRADDLING pairs (batch docs sharing 55..80 of 100
    // tokens with a corpus doc, true J around the 0.7/0.5 thresholds) —
    // the regime where a single divergent seed would flip a decision.
    val corpus = (0 until 12).map { i =>
      (100L + i, (0 until 100).map(j => s"c${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val batch = (0 until 12).map { i =>
      val ov = 55 + 2 * i // 55..77 of 100 tokens shared with corpus doc i
      (500L + i, ((0 until ov).map(j => s"c${i}_$j") ++
        (ov until 100).map(j => s"b${i}_$j")).mkString(" "))
    }.toDF("doc_id", "text")
    Seq(0.5, 0.7).foreach { th =>
      Dedup.clearMemo(spark)
      val idx = Dedup.NearDupIndex.build(corpus, "text", "doc_id",
        estimatedJaccard = true)
      val viaIndex = idx.dedupBatch(batch, "text", threshold = th)
        .select("doc_id").as[Long].collect().sorted.toSeq
      Dedup.clearMemo(spark)
      val viaFacade = Dedup.dropDuplicatesAgainst(batch, corpus, "text",
          "doc_id", threshold = th, estimatedJaccard = true)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(viaIndex == viaFacade,
        s"threshold $th: index=$viaIndex facade=$viaFacade")
      // the straddle is real: some batch docs survive and some don't
      assert(viaIndex.nonEmpty && viaIndex.length < 12,
        s"threshold $th not straddling: $viaIndex")
    }
    Dedup.clearMemo(spark)
  }

  test("nearDedupStream drops cross-batch near-dups through the growing index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val accepted = scala.collection.mutable.ArrayBuffer[Long]()
    val q = graft.streaming.EventPipeline.nearDedupStream(
      mem.toDF().toDF("doc_id", "text"), corpus, "text", "doc_id",
      java.nio.file.Files.createTempDirectory("ndds_ck").toString,
      threshold = 0.5) { (_, rows) =>
      accepted.synchronized { accepted ++= rows.map(_.getLong(0)) }
    }
    // batch 1: corpus near-dup dropped, fresh doc accepted
    mem.addData((10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "a genuinely new document discussing spark physical plans"))
    q.processAllAvailable()
    // batch 2: near-dup of batch 1's survivor dropped, fresh doc accepted
    mem.addData((20L, "a genuinely new document discussing spark physical things"),
      (21L, "an entirely different text about parquet row group pruning"))
    q.processAllAvailable()
    q.stop()
    assert(accepted.sorted.toSeq == Seq(11L, 21L))
  }

  test("star connected components matches label propagation, converges on deep chains") {
    // a 400-link chain: label propagation needs ~400 rounds (would trip
    // maxIter), the star alternation needs O(log n)
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("id1", "id2")
    val star = Dedup.connectedComponents(chain, "id1", "id2",
        maxIter = 12, algorithm = "star")
      .as[(Long, Long)].collect().toMap
    assert(star.size == 401)
    assert(star.values.toSet == Set(0L))
    // agreement with label propagation on a branchy small graph
    val g = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L), (20L, 21L),
      (21L, 22L), (22L, 23L), (23L, 24L)).toDF("id1", "id2")
    val lbl = Dedup.connectedComponents(g, "id1", "id2")
      .as[(Long, Long)].collect().toMap
    val st = Dedup.connectedComponents(g, "id1", "id2", algorithm = "star")
      .as[(Long, Long)].collect().toMap
    assert(st == lbl)
    assert(st(24L) == 20L && st(12L) == 10L && st(3L) == 1L)
  }

  // shared 6-token passage pasted into two otherwise-distinct docs, plus an
  // exact-dup pair and a clean doc — the substring-dedup fixture
  private lazy val passageDocs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta unique tail zero"),
    (1L, "intro words alpha beta gamma delta epsilon zeta other ending"),
    (2L, "totally unrelated text about columnar shuffles and codegen spans"),
    (3L, "same exact document body repeated verbatim here"),
    (4L, "same exact document body repeated verbatim here")
  ).toDF("doc_id", "text")

  test("substringDupStats: span union covers the shared passage, clean docs zero") {
    val st = Dedup.substringDupStats(passageDocs, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // doc 0: 9 tokens, 5 windows; the 6-token passage at pos 0 yields dup
    // windows at 0 and 1 → span union = min(1-0,5) + 5 = 6 covered tokens
    assert(st(0L) == ((9L, 5L, 2L, 6L)))
    // doc 1: same passage at pos 2 → windows 2,3 → 6 covered of 10 tokens
    assert(st(1L) == ((10L, 6L, 2L, 6L)))
    // clean doc: zero dup windows
    assert(st(2L)._3 == 0L && st(2L)._4 == 0L)
    // exact dups: every window duplicated, full coverage
    assert(st(3L) == ((7L, 3L, 3L, 7L)))
    assert(st(4L) == ((7L, 3L, 3L, 7L)))
  }

  test("scrubRepeatedSubstrings: keeper retains text, later docs lose the span") {
    val out = Dedup.scrubRepeatedSubstrings(passageDocs, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc 0 is keeper for the passage → untouched
    assert(out(0L)._1 == "alpha beta gamma delta epsilon zeta unique tail zero")
    // doc 1 loses exactly tokens [2, 8) — the union of its two dup windows
    assert(out(1L)._1 == "intro words other ending" && out(1L)._2 == 4L)
    assert(out(2L)._2 == 9L) // clean doc untouched
    assert(out(3L)._1.nonEmpty && out(3L)._2 == 7L) // keeper of the exact pair
    assert(out(4L)._1 == "" && out(4L)._2 == 0L) // fully-duplicated doc emptied
  }

  test("duplicatedWindows is linear in copies for an exact-dup-heavy corpus") {
    // 300 identical docs: every window hash collides, but the plan is one
    // groupBy + equi-join back — dup-window rows = docs × windows, never pairs²
    val many = (0L until 300L).map(i => (i, "repeat this boilerplate block verbatim"))
      .toDF("doc_id", "text")
    val dw = Dedup.duplicatedWindows(many, "text", "doc_id", k = 5)
    assert(dw.count() == 300L) // 1 window per 5-token doc × 300 docs
    val st = Dedup.substringDupStats(many, "text", "doc_id", k = 5)
      .agg(sum(col("covered_tokens"))).head().getLong(0)
    assert(st == 300L * 5)
  }

  test("duplicatedWindows: gram persist mode is result-identical and " +
      "releases the previous cache on the next call") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "intro alpha beta gamma delta epsilon tail words"),
      (2L, "a clean document sharing no five token window at all"))
      .toDF("doc_id", "text")
    val persist = GraftConf.DedupGramPersist.key
    try {
      val off = withConf(persist -> "false") {
        Dedup.duplicatedWindows(docs, "text", "doc_id", k = 5)
          .orderBy("doc_id", "pos").collect().toSeq
      }
      val onDf = Dedup.duplicatedWindows(docs, "text", "doc_id", k = 5)
      val on = onDf.orderBy("doc_id", "pos").collect().toSeq
      assert(off == on)
      // persist mode reads the gram projection through the cache (one
      // tokenize pass); recompute mode must not
      assert(onDf.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"))
      // the NEXT construction unpersists the previous query's cache before
      // registering its own: a fresh construction still computes the same
      // results from source (a bench rep is never served by the previous
      // rep's materialization), and its own plan re-caches
      val onDf2 = Dedup.duplicatedWindows(docs, "text", "doc_id", k = 5)
      assert(onDf2.orderBy("doc_id", "pos").collect().toSeq == off)
      // drop onDf2's registration first: the CacheManager substitutes any
      // canonically-identical plan, which would mask the off-mode shape
      spark.catalog.clearCache()
      withConf(persist -> "false") {
        val offDf = Dedup.duplicatedWindows(docs, "text", "doc_id", k = 5)
        offDf.collect()
        assert(!offDf.queryExecution.executedPlan.toString
          .contains("InMemoryTableScan"))
      }
    } finally spark.catalog.clearCache()
  }

  test("NearDupIndex save/load: reload parity in a fresh session, both modes") {
    // The crawl-dedup index must survive a pipeline restart: save() writes
    // the versioned ManifestLayout artifact, load() reopens it, and a
    // fresh session's dedupBatch verdicts must be IDENTICAL to the
    // session that built it — in both verify modes, and after appended()
    // growth has been folded in and re-saved.
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "completely unrelated reference document about databases"))
      .toDF("doc_id", "text")
    val batchRows = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "a genuinely new document discussing spark physical plans"),
      (12L, "a genuinely new document discussing spark physical plans"))
    val b2Rows = Seq(
      (20L, "a genuinely new document discussing spark physical things"),
      (21L, "an entirely different text about parquet row group pruning"))
    // batches are created in the INDEX's own session (cross-session plan
    // mixing is not part of the contract being tested)
    def df(ss: org.apache.spark.sql.SparkSession, rows: Seq[(Long, String)]) = {
      import ss.implicits._
      rows.toDF("doc_id", "text")
    }
    def survivors(ix: Dedup.NearDupIndex, rows: Seq[(Long, String)]) = {
      val ss = ix.bands.sparkSession
      ix.dedupBatch(df(ss, rows), "text", threshold = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    }
    Seq(false, true).foreach { est =>
      val root = java.nio.file.Files.createTempDirectory(s"ndidx_$est")
      try {
        val path = s"$root/ndidx"
        val idx = Dedup.NearDupIndex.build(corpus, "text", "doc_id",
          estimatedJaccard = est)
        idx.save(path)
        // fresh-session reopen: a different SQLContext, frames read from
        // parquet — nothing served from this session's checkpoint memo
        val s2 = spark.newSession()
        val re = Dedup.NearDupIndex.load(s2, path)
        assert(re.estimated == est)
        assert(re.k == idx.k && re.numHashes == idx.numHashes &&
          re.rowsPerBand == idx.rowsPerBand && re.idCol == "doc_id")
        assert(survivors(re, batchRows) == survivors(idx, batchRows))
        assert(survivors(re, batchRows) == Seq(11L))
        // grow + re-save → newest committed version carries the growth
        val grown = re.appended(df(s2, batchRows.filter(_._1 == 11L)), "text")
        grown.save(path)
        val re2 = Dedup.NearDupIndex.load(spark, path)
        assert(survivors(re2, b2Rows) == Seq(21L)) // near-dup of 11 now drops
        // pre-growth reload (stale copy) would have kept it — proves the
        // re-saved version, not the memo, answered
        assert(survivors(re, b2Rows) == Seq(20L, 21L))
      } finally FsUtil.deleteRecursively(root)
    }
  }

  test("dedupBatch broadcast-pruned corpus pass: verdicts identical to shuffle plan") {
    // r13: on a large corpus every corpus-side frame access in dedupBatch
    // (band keys, fingerprints, signatures/shingles/counts) becomes a
    // broadcast-semi-join STREAM — no shuffle of any corpus frame. The
    // gates are forced both ways here and the survivor sets must be
    // identical in both verify modes: the semi-join only discards corpus
    // rows that cannot join. The batch exercises all four loser classes
    // (exact-internal, exact-vs-index, near-dup-vs-index via the pruned
    // candidate+verify joins, batch-internal near policy) plus genuine
    // survivors.
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val texts = corpus.orderBy(col("doc_id")).select(col("text"))
      .limit(2).collect().map(_.getString(0))
    val batch = Seq(
      (900001L, texts(0)),                   // exact dup of a corpus doc
      (900002L, texts(1) + " zzextratoken"), // near-dup of a corpus doc
      (900003L, "a genuinely new document discussing spark physical plans"),
      (900004L, "a genuinely new document discussing spark physical plans"),
      (900005L, "an entirely different text about parquet row group pruning"))
      .toDF("doc_id", "text")
    val minCorpus = GraftConf.DedupPruneMinCorpusBytes.key
    Seq(false, true).foreach { est =>
      Dedup.clearMemo(spark)
      val idx = Dedup.NearDupIndex.build(corpus, "text", "doc_id",
        estimatedJaccard = est)
      def surv(): Seq[Long] = idx.dedupBatch(batch, "text", threshold = 0.7)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // classic shuffle plan
      val full = withConf(minCorpus -> Long.MaxValue.toString)(surv())
      withConf(minCorpus -> "0") { // forced pruned plan
        val pruned = surv()
        assert(pruned == full, s"est=$est: pruned $pruned != full $full")
        assert(full == Seq(900003L, 900005L), s"est=$est: $full")
        // r14 skew guard: pruned plan with the candidate-id broadcast
        // DISABLED (cap 0 → every candidate set counts as skew-inflated;
        // verify-stage pruning falls back to a non-broadcast semi-join).
        // Verdicts must not move.
        val fallback =
          withConf(GraftConf.DedupPruneMaxCandIds.key -> "0")(surv())
        assert(fallback == full, s"est=$est: fallback $fallback != $full")
      }
    }
  }

  test("NearDupIndex incremental checkpoints: delta saves, fold cadence, chain reload, vacuum") {
    // r13 crawl-cadence checkpointing: after a full save, subsequent
    // saves write ONLY the appended-since slices (delta versions), every
    // maxDeltaChain-th save folds back to a full version, load() unions
    // the committed chain, and the vacuum keeps each grace version's
    // chain base readable.
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "completely unrelated reference document about databases"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("ndidx_delta")
    try withConf(GraftConf.DedupMaxDeltaChain.key -> "3") {
      val path = s"$root/ndidx"
      var idx = Dedup.NearDupIndex.build(corpus, "text", "doc_id",
        estimatedJaccard = true)
      idx.save(path) // v1 FULL
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      import graft.operators.ManifestLayout
      def committed: Seq[Long] = ManifestLayout
        .versions(fs, new org.apache.hadoop.fs.Path(path))
        .filter(_._2).map(_._1).sorted
      assert(committed == Seq(1L) && !ManifestLayout.isDelta(fs, path, 1L))
      val extras = (0 until 4).map { i =>
        (100L + i,
          s"novel crawl document number $i covering a distinct topic " +
          s"with plenty of shingle bearing tokens variant$i")
      }
      extras.take(3).foreach { row =>
        idx = idx.appended(Seq(row).toDF("doc_id", "text"), "text")
        idx = idx.save(path)
      }
      // v2, v3 deltas; the third save hits the fold cadence → v4 FULL
      assert(committed == Seq(1L, 2L, 3L, 4L))
      assert(ManifestLayout.isDelta(fs, path, 2L) &&
        ManifestLayout.isDelta(fs, path, 3L) &&
        !ManifestLayout.isDelta(fs, path, 4L))
      // a delta version holds ONLY its appended slice (1 signature row),
      // not the corpus — checkpoint cost ∝ batch
      assert(spark.read.parquet(s"$path/v00000002/signatures").count() == 1L)
      assert(spark.read.parquet(s"$path/v00000004/signatures").count() ==
        idx.signatures.get.count())
      // one more append+save → v5 delta on top of the v4 fold; the vacuum
      // now drops v1–v3 (grace = {v4, v5}, base of both = v4)
      idx = idx.appended(Seq(extras(3)).toDF("doc_id", "text"), "text")
      idx = idx.save(path)
      assert(committed == Seq(4L, 5L) && ManifestLayout.isDelta(fs, path, 5L))
      // a crashed (uncommitted) newer delta dir must stay invisible to
      // the chain walk — same contract as the full-version crash case
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$path/v00000099/bands"))
      // chain reload parity: the loaded (v4 ∪ v5) index classifies like
      // the in-memory handle — appended docs drop their exact dups
      val re = Dedup.NearDupIndex.load(spark, path)
      assert(re.signatures.get.count() == idx.signatures.get.count())
      val probe = (Seq((500L, extras(3)._2), (501L, extras(0)._2)) :+
        ((502L, "a wholly fresh document that matches nothing at all here")))
        .toDF("doc_id", "text")
      def surv(ix: Dedup.NearDupIndex): Seq[Long] =
        ix.dedupBatch(probe, "text", threshold = 0.7)
          .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(surv(re) == surv(idx))
      assert(surv(re) == Seq(502L))
    } finally FsUtil.deleteRecursively(root)
  }

  test("loaded writer handle survives fold+vacuum cycles via save's returned handle") {
    // The crawl-restart loop: load(path), then (dedupBatch → appended →
    // save) at batch cadence. A loaded handle's frames are lazy parquet
    // scans of the on-disk chain; a FOLD rewrites the chain and the save
    // AFTER the fold vacuums the old one — so save() returns a handle
    // re-pointed at the fold, and `idx = idx.save(path)` must classify
    // correctly through TWO full fold+vacuum cycles. (The stale-handle
    // loop reads vacuumed files and dies with FileNotFound on the step
    // after the first post-fold save.)
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "completely unrelated reference document about databases"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("ndidx_writer")
    // fold every other save → 2 cycles in 5 saves
    try withConf(GraftConf.DedupMaxDeltaChain.key -> "2") {
      val path = s"$root/ndidx"
      Dedup.NearDupIndex.build(corpus, "text", "doc_id",
        estimatedJaccard = true).save(path)
      var idx = Dedup.NearDupIndex.load(spark, path)
      (0 until 5).foreach { i =>
        val b = Seq(
          (1000L + 10 * i,
            s"fresh crawl page number $i with distinct shingle tokens run$i"),
          (1001L + 10 * i,
            "the quick brown fox jumps over the lazy dog tonight"))
          .toDF("doc_id", "text")
        val surv = idx.dedupBatch(b, "text", threshold = 0.7)
        // the exact dup of corpus doc 0 drops at every step — proof the
        // handle reads a LIVE chain after each fold+vacuum
        assert(surv.select("doc_id").collect().map(_.getLong(0)).toSeq ==
          Seq(1000L + 10 * i), s"step $i")
        idx = idx.appended(surv, "text")
        idx = idx.save(path)
      }
      // v1 full, v2 delta, v3 fold, v4 delta, v5 fold, v6 delta — the
      // handle's persisted lineage advanced with every save
      assert(idx.persistedVersion.map(_._2) == Some(6L))
      val re = Dedup.NearDupIndex.load(spark, path)
      assert(re.signatures.get.count() == idx.signatures.get.count())
      // a handle superseded by a fold must fail FAST if written through
      // again (the silent version would FileNotFound two saves later)
      idx = idx.appended(Seq((9000L,
        "one more novel page with sufficient distinct tokens overall"))
        .toDF("doc_id", "text"), "text")
      val before = idx
      idx = idx.save(path) // chain [v5, v6] is at the cadence → fold v7
      assert(!(before eq idx))
      val ex = intercept[IllegalArgumentException] { before.save(path) }
      assert(ex.getMessage.contains("superseded"))
      // superseded propagates through derived copies (r14): appended()/
      // compacted() on a superseded handle yield handles whose save also
      // fails fast — the derived copy's base frames still scan the old
      // chain, and its persistedBase alone looks current (save advanced
      // it to the fold version before superseding), so without the
      // propagated flag it would silently write deltas the next vacuum
      // orphans.
      val derived = before.appended(Seq((9100L,
        "yet another novel page with plenty of distinct tokens inside"))
        .toDF("doc_id", "text"), "text")
      val ex2 = intercept[IllegalArgumentException] { derived.save(path) }
      assert(ex2.getMessage.contains("superseded"))
      val ex3 = intercept[IllegalArgumentException] {
        before.compacted().save(path) }
      assert(ex3.getMessage.contains("superseded"))
    } finally FsUtil.deleteRecursively(root)
  }

  test("NearDupIndex load ignores uncommitted (crashed) save versions") {
    val corpus = Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (1L, "november oscar papa quebec romeo sierra tango uniform victor"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("ndidx_crash")
    try {
      val path = s"$root/ndidx"
      val idx = Dedup.NearDupIndex.build(corpus, "text", "doc_id",
        estimatedJaccard = true)
      idx.save(path)
      // simulate a crash mid-save: a newer version dir WITHOUT the commit
      // marker (half-written frames) must be invisible to load()
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$path/v00000099/bands"))
      val re = Dedup.NearDupIndex.load(spark, path)
      val surv = re.dedupBatch(
          Seq((5L, "alpha bravo charlie delta echo foxtrot golf hotel india"))
            .toDF("doc_id", "text"), "text")
        .count()
      assert(surv == 0L) // exact dup of corpus doc 0 — classified, not lost
    } finally FsUtil.deleteRecursively(root)
  }
}
