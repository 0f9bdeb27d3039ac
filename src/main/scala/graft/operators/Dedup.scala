package graft.operators

import graft.GraftConf
import graft.functions.vec_cos
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deduplication operators for LLM-training-data pipelines, in increasing
  * fuzziness: exact (content hash), MinHash+LSH (near-dup candidates at
  * scale), n-gram Jaccard (exact verification), SimHash (bit-signature), and
  * embedding-cosine near-dup.
  *
  * Scale design (the part that must survive 100 TB):
  *   - exact dedup = hash + groupBy → one shuffle keyed on a 128-bit hash,
  *     uniformly distributed, no skew;
  *   - MinHash reduces each document to k longs *before* any join, so the
  *     wide text column never shuffles;
  *   - LSH banding turns near-dup search from O(n²) cross join into an
  *     equi-join on band keys (shuffle-hash join; bucket sizes are bounded
  *     because identical band keys imply high similarity);
  *   - Jaccard verification runs only on LSH candidates, not all pairs;
  *   - embedding near-dup uses sign-LSH bucketing the same way.
  */
object Dedup {

  /** Cross-engine 60-bit hash (first 15 hex chars of md5 → long). Chosen
    * over xxhash/murmur because the DuckDB oracle can reproduce it exactly.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Session-scoped memo of expensive dedup intermediates (the MinHash
    * signature core, connected-components labelings). A dedup-heavy
    * analysis session asks the same questions of the same corpus in
    * several shapes — drop the dups, cluster them, split leakage-safely,
    * cap copies — and each re-derivation re-runs the full
    * shingle→signature→band→verify pipeline. Entries are keyed on the
    * INPUT's analyzed logical plan (matched with `sameResult`, so column
    * renames/reorderings still hit) plus the operator parameters, and hold
    * localCheckpointed id-sized frames.
    *
    * Freshness unit is the session, the same contract as
    * [[VectorSearch.IvfIndex]]'s relation cache: underlying files changed
    * from outside are not re-observed until a new session (or
    * [[clearMemo]]). Bounded (oldest evicted); entries of STOPPED sessions
    * are purged on the next memo access from any session (the cached
    * frames reference their session, so weak keys alone cannot free them).
    */
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.mutable.ArrayBuffer[
        (Any, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Any)]]())
  private val memoMax = 16

  /** Drop every memoized dedup intermediate for `spark` — call after
    * overwriting source files mid-session.
    */
  def clearMemo(spark: org.apache.spark.sql.SparkSession): Unit = {
    val entries = memo.get(spark)
    if (entries != null) entries.synchronized { entries.clear() }
  }

  /** Size-adaptive execution mode for the near-dup family. The pipeline's
    * intermediates (signature core, pair verdicts) are eagerly
    * `localCheckpoint`ed so that multi-consumer reuse never re-runs the
    * text scans — the right trade on a large corpus, where one barrier job
    * costs seconds and a re-scan costs minutes. On an INTERACTIVE corpus
    * the trade inverts: each checkpoint is a full job launch (~0.2–1 s of
    * scheduler/stage fixed cost) strung into a sequential chain, while the
    * "saved" recomputation is milliseconds of hashing. So for inputs whose
    * Catalyst-estimated size is at or below `graft.dedup.inlineMaxBytes`
    * (default 64 MB), the SINGLE-CONSUMER leaf frames (pair verdicts, the
    * index fingerprint frame) stay LAZY and fuse into the consumer's one
    * job. The multi-consumer core frames (distinct shingles, band keys)
    * stay eager in both modes: they are re-read through aliased self-join
    * branches where `ReusedExchange` does not fire, so a lazy core
    * re-tokenizes per branch and the fused plan grows combinatorially
    * (measured SLOWER than the barriers it saves, even at 2.5k docs). The
    * size estimate comes from `optimizedPlan.stats` (parquet footer sizes
    * × filter selectivity) — driver-side, no job. Set the conf to 0 to
    * force the barrier path everywhere.
    */
  private def interactive(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      GraftConf.DedupInlineMaxBytes.get(df.sparkSession)

  private def memoized[T](df: DataFrame, params: Any)(compute: => T): T = {
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    val entries = memo.synchronized {
      // purge entries of stopped sessions: their cached frames reference
      // the session object, so the weak key alone can never be collected
      val it = memo.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey != null && e.getKey.sparkContext.isStopped) it.remove()
      }
      var e = memo.get(spark)
      if (e == null) {
        e = scala.collection.mutable.ArrayBuffer.empty
        memo.put(spark, e)
      }
      e
    }
    val hit = entries.synchronized {
      entries.find(e => e._1 == params && e._2.sameResult(plan)).map(_._3)
    }
    hit match {
      case Some(v) =>
        // observable staleness: a memo hit on a source overwritten
        // mid-session returns the OLD result — log so the reuse is visible
        // (clearMemo is the escape hatch)
        System.err.println(s"[graft] dedup memo hit: " +
          s"${params.asInstanceOf[Product].productElement(0)} reusing " +
          "session-cached intermediates (Dedup.clearMemo to invalidate)")
        v.asInstanceOf[T]
      case None =>
        // compute OUTSIDE the lock: the pipeline runs Spark jobs for
        // minutes on large corpora and unrelated keys must not serialize
        // behind it. A concurrent duplicate computation is harmless (both
        // results are checkpointed frames); first insert wins the reuse.
        val v = compute
        entries.synchronized {
          if (!entries.exists(e => e._1 == params && e._2.sameResult(plan)))
            entries += ((params, plan, v))
          if (entries.length > memoMax) entries.remove(0)
        }
        v
    }
  }

  /** Sentinel for a `numHashes` parameter meaning "the verify mode's own
    * default": 8 when candidates are verified by EXACT shingle Jaccard
    * (minhash only generates candidates there — recall-only, so few seeds
    * suffice), 32 when MinHash agreement IS the similarity estimate
    * (`estimatedJaccard = true`). The estimator's granularity is
    * 1/numHashes and its std-err √(J(1−J)/numHashes): at 8 seeds a
    * threshold decision at the production 0.7–0.8 range flips on
    * single-seed noise (granularity 0.125, std-err ≈ 0.16 at J = 0.7),
    * while 32 seeds give granularity 0.03125 and std-err ≈ 0.08 — the
    * precision DedupSpec's error-bound case certifies. Index cost in
    * estimated mode grows 8 → 32 longs/doc (~130 → ~520 B/doc with band
    * keys, SCALE.md) — still 10⁻²–10⁻³ of the exact mode's shingle store.
    */
  val AutoNumHashes: Int = 0

  /** [[NearDupIndex.dedupBatch]]'s second broadcast-prune gate (r13):
    * the pruned plan engages when the corpus band frame is big enough
    * ([[GraftConf.DedupPruneMinCorpusBytes]]) AND the batch's band-key
    * count is at most this (the broadcast build side is ~40 B × keys;
    * 2M keys ≈ 80 MB ≈ a 125k-rep batch — far past any micro-batch, and
    * a driver-safe ceiling on a real cluster).
    */
  private[graft] val dedupPruneMaxBatchKeys: Long = 2000000L

  private def resolveNumHashes(numHashes: Int, estimated: Boolean): Int =
    if (numHashes != AutoNumHashes) numHashes
    else if (estimated) 32
    else 8

  /** Exact dedup: keep the lowest `idCol` per distinct `textCol`. */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keepers = df.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__h")
    df.join(keepers, Seq(idCol), "left_semi")
  }

  /** MinHash signatures: `numHashes` permutations over word `k`-shingles.
    * Output: (idCol, seed, minhash), `numHashes` rows per document.
    *
    * Two cost levers vs. the textbook formulation:
    *   - the permutation family is double hashing `h1 + seed·h2` over the
    *     two 32-bit halves of ONE md5 per shingle — a proper universal
    *     family at 1/numHashes the hashing cost;
    *   - all `numHashes` mins are computed in ONE aggregation pass (one
    *     `min` column per seed), then unpivoted — no seed cross-join, so
    *     the shingle set is scanned and shuffled once. At 100 TB the
    *     shuffle is keyed on the doc id with map-side partial mins: each
    *     mapper emits at most one `numHashes`-wide row per doc.
    */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = AutoNumHashes): DataFrame =
    minhashFromShingles(
      TextAnalysis.shingles(df, textCol, k, idCol), idCol,
      // exact-verification default (8): signatures here only generate
      // band candidates; no estimated-Jaccard verification rides on them
      resolveNumHashes(numHashes, estimated = false))

  /** [[minhashSignatures]] from an already-materialized shingle frame
    * (`idCol`, s) — `min` is insensitive to duplicate shingles, so a
    * distinct frame (e.g. [[sigCore]]'s stored one) gives identical
    * signatures without re-tokenizing the text.
    */
  private def minhashFromShingles(
      sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val h = sh
      .select(col(idCol), md5(col("s")).as("__md5"))
      .select(col(idCol),
        conv(substring(col("__md5"), 1, 8), 16, 10).cast("long").as("__h1"),
        conv(substring(col("__md5"), 9, 8), 16, 10).cast("long").as("__h2"))
    val aggs = (0 until numHashes).map { seed =>
      min(col("__h1") + lit(seed.toLong) * col("__h2")).as(s"__m$seed")
    }
    val stackExpr = (0 until numHashes)
      .map(seed => s"${seed}L, __m$seed").mkString(", ")
    h.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        expr(s"stack($numHashes, $stackExpr) AS (seed, minhash)"))
  }

  /** Band keys over [[minhashSignatures]] output: one (`idCol`, band,
    * bkey) row per document per band — the joinable form of an LSH index
    * (two documents are candidates iff they share any (band, bkey)).
    *
    * `bkey` is a LONG that ENCODES THE BAND (r14): the top 60 bits of
    * md5("band,minhash,minhash") — the band index is folded into the
    * hashed content, so `bkey` equality alone is the candidate
    * condition and every band join is a SINGLE-LONG-KEY join (Spark's
    * primitive LongHashedRelation / long-keyed codegen hash, not the
    * generic UnsafeRow-keyed relation a composite (band, bkey) key
    * forces). Identical-content bands still collide by construction
    * (same md5 input), and a 60-bit truncation collision only ADDS a
    * candidate pair that the Jaccard verify stage then scores — no
    * false negatives, and the false-candidate rate is ~2⁻⁶⁰ per
    * cross-band pair. What the long key buys at corpus scale: the band
    * frame is the LARGEST stored near-dup index frame (numHashes/
    * rowsPerBand rows per doc) and the hot probe side of every
    * [[NearDupIndex.dedupBatch]] — BENCH_neardup5m_r14 measured the
    * broadcast semi-join probe of 80M keys at 9.47 s as 32-char md5
    * STRINGS and 6.38 s as (band, long) composites, against 0.24 s for
    * the raw columnar scan of the same frame: the stream's cost IS the
    * key hashing, and the single-long form is the cheapest key Spark
    * can probe. The `band` column is still stored and emitted
    * (debuggability, oracle-join parity); joins just no longer need it.
    * DuckDB oracles mirror the key as
    * `('0x' || substr(md5(CAST(min(seed) // rpb AS VARCHAR) || ',' ||
    * string_agg(...)), 1, 15))::BIGINT`.
    */
  def lshBandKeys(signatures: DataFrame, idCol: String,
      rowsPerBand: Int = 2): DataFrame =
    signatures
      .withColumn("band", expr(s"seed div $rowsPerBand"))
      .groupBy(col(idCol), col("band"))
      .agg(conv(substring(md5(concat_ws(",", col("band").cast("string"),
        expr("transform(array_sort(collect_list(struct(seed, minhash))), x -> cast(x.minhash as string))"))),
        1, 15), 16, 10).cast("long")
        .as("bkey"))

  /** LSH banding over [[minhashSignatures]] output: hash each band of
    * `rowsPerBand` signature values to a key; docs sharing any (band, key)
    * are near-dup candidates.
    */
  def lshCandidatePairs(
      signatures: DataFrame, idCol: String, rowsPerBand: Int = 2): DataFrame =
    bandSelfPairs(lshBandKeys(signatures, idCol, rowsPerBand), idCol)

  /** Candidate pairs from an already-materialized band-key frame. `bkey`
    * encodes the band (r14, [[lshBandKeys]]), so the self-join runs on
    * the single long key.
    */
  private def bandSelfPairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("id1"), col("bkey"))
    val b = bands.select(col(idCol).as("id2"), col("bkey").as("bkey2"))
    a.join(b, col("bkey") === col("bkey2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** Exact word-k-shingle Jaccard similarity for given candidate pairs
    * (columns id1, id2). Output: (id1, id2, jaccard).
    *
    * The intersection join is anchored on the candidate PAIRS, not on the
    * shingle value: pair rows pick up id1's shingles (join keyed on id1),
    * then match id2's shingles on the composite (id2, shingle) key. Every
    * join key includes a document id, so a corpus-hot shingle ("click here
    * to", boilerplate headers) never becomes a skewed shuffle key and never
    * fans out across non-candidate doc pairs — the work is
    * |pairs| × |shingles per doc|, linear in the candidate set.
    */
  def jaccardVerify(
      df: DataFrame, textCol: String, idCol: String,
      candidates: DataFrame, k: Int = 3): DataFrame = {
    val sh = TextAnalysis.shingles(df, textCol, k, idCol).distinct()
    val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    jaccardVerifyOn(sh, cnt, idCol, candidates)
  }

  /** [[jaccardVerify]] from already-materialized distinct-shingle and
    * shingle-count frames (e.g. [[sigCore]]'s stored ones).
    */
  private def jaccardVerifyOn(
      sh: DataFrame, cnt: DataFrame, idCol: String,
      candidates: DataFrame): DataFrame = {
    val a = sh.select(col(idCol).as("id1"), col("s"))
    val b = sh.select(col(idCol).as("__bid"), col("s").as("s2"))
    val cand = candidates.select(col("id1"), col("id2")).distinct()
    val inter = cand.join(a, Seq("id1"))
      .join(b, col("id2") === col("__bid") && col("s") === col("s2"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("c"))
    inter
      .join(cnt.select(col(idCol).as("id1"), col("__n").as("n1")), "id1")
      .join(cnt.select(col(idCol).as("id2"), col("__n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jaccard"))
  }

  /** MinHash family for the ESTIMATED-Jaccard mode: per-seed affine
    * transforms `(a_i·h + b_i) mod p` of one md5-derived base hash, with
    * p = 2³¹−1 (Mersenne prime) and deterministic md5-derived
    * coefficients — the same construction as Spark MLlib's MinHashLSH,
    * fully replayable in SQL.
    *
    * Why a second family exists: the exact path's cheaper double-hashing
    * `h1 + seed·h2` ([[minhashFromShingles]]) has NO modular wrap, so the
    * shingle ordering barely changes across seeds — one shared shingle
    * with small (h1, h2) is the minimum for EVERY seed, and a pair with
    * true J = 0.01 "agrees" 32/32 (measured on the test corpus: estimate
    * 1.0 at exact 0.010). That correlation is harmless when minhash only
    * GENERATES candidates (recall-only; precision comes from exact
    * verify) but fatal when agreement IS the similarity estimate. The
    * mod-p wrap makes each seed's ordering an independent-ish scramble,
    * restoring the √(J(1−J)/numHashes) error bound.
    *
    * Arithmetic stays in Long: a_i ≤ p−1 and h < p, so a_i·h + b_i <
    * 2⁶² — no overflow, identical in DuckDB BIGINT.
    */
  private val MhPrime = 2147483647L // 2^31 - 1

  private def md5Long32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  private[operators] def mhA(seed: Int): Long =
    md5Long32(s"mh-a-$seed") % (MhPrime - 1) + 1
  private[operators] def mhB(seed: Int): Long =
    md5Long32(s"mh-b-$seed") % MhPrime

  /** Estimation-grade MinHash signatures over a shingle frame (`idCol`,
    * s): one `(a_seed·h + b_seed) mod p` minimum per seed, one
    * aggregation pass (same single-scan shape as
    * [[minhashFromShingles]]). Output: (`idCol`, seed, minhash).
    */
  private def estSignaturesFromShingles(
      sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val h = sh.select(col(idCol),
      (conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long") % MhPrime)
        .as("__h"))
    val aggs = (0 until numHashes).map { seed =>
      min((lit(mhA(seed)) * col("__h") + lit(mhB(seed))) % MhPrime)
        .as(s"__m$seed")
    }
    val stackExpr = (0 until numHashes)
      .map(seed => s"${seed}L, __m$seed").mkString(", ")
    h.groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        expr(s"stack($numHashes, $stackExpr) AS (seed, minhash)"))
  }

  /** Signature-estimated Jaccard for candidate pairs: the fraction of the
    * `numHashes` MinHash seeds on which the two documents' signature values
    * agree — the standard unbiased MinHash estimator of Jaccard similarity
    * (E[agreement] = J exactly, std-err √(J(1−J)/numHashes)). Both inputs
    * are [[minhashSignatures]]-shaped frames (`idCol`, seed, minhash);
    * `cands` has columns (id1, id2) drawn from sigs1/sigs2 respectively.
    *
    * Scale shape: each join key includes a document id (pair-anchored,
    * same reasoning as [[jaccardVerify]]), the per-pair work is exactly
    * `numHashes` rows, and — the point of the estimator — NO shingle
    * frame is read: the verify stage costs O(pairs · numHashes)
    * regardless of document length or corpus size. Deterministic from
    * the signatures, so a SQL oracle can replay it exactly.
    */
  private def estimatedJaccardOn(sigs1: DataFrame, sigs2: DataFrame,
      idCol: String, numHashes: Int, cands: DataFrame): DataFrame = {
    val a = sigs1.select(col(idCol).as("id1"), col("seed"),
      col("minhash").as("__m1"))
    val b = sigs2.select(col(idCol).as("__bid2"), col("seed").as("__s2"),
      col("minhash").as("__m2"))
    cands.select(col("id1"), col("id2")).distinct()
      .join(a, Seq("id1"))
      .join(b, col("id2") === col("__bid2") && col("seed") === col("__s2"))
      .groupBy(col("id1"), col("id2"))
      .agg((sum(when(col("__m1") === col("__m2"), 1).otherwise(0))
        .cast("double") / numHashes).as("jaccard"))
  }

  /** [[estSignaturesFromShingles]] output regrouped to ONE row per doc
    * carrying the seed-ordered signature array — the STORED form of the
    * estimated-mode [[NearDupIndex]] (r11). The seed-row form stays the
    * right shape for banding and for the SQL-replayable oracles; the
    * array form is the right shape for an index a BATCH joins against:
    * the per-batch verify join streams |corpus reps| rows instead of
    * |corpus reps| × numHashes (at the 5M-doc growth point that scan was
    * 160M rows and the dominant dedupBatch cost — BENCH_neardup5m_r11).
    */
  private def sigsToArray(sigs: DataFrame, idCol: String): DataFrame =
    sigs.groupBy(col(idCol)).agg(
      expr("transform(array_sort(collect_list(struct(seed, minhash))), x -> x.minhash)")
        .as("__sigs"))

  /** [[estimatedJaccardOn]] over array-form signatures: per-pair seed
    * agreement via one zip_with fold instead of a numHashes-row join
    * group — same unbiased estimator, same 1/numHashes result grid.
    */
  private def estimatedJaccardOnArr(arr1: DataFrame, arr2: DataFrame,
      idCol: String, numHashes: Int, cands: DataFrame): DataFrame = {
    val a = arr1.select(col(idCol).as("id1"), col("__sigs").as("__a1"))
    val b = arr2.select(col(idCol).as("__bid2"), col("__sigs").as("__a2"))
    cands.select(col("id1"), col("id2")).distinct()
      .join(a, Seq("id1"))
      .join(b, col("id2") === col("__bid2"))
      .select(col("id1"), col("id2"),
        (expr("aggregate(zip_with(__a1, __a2, (x, y) -> IF(x = y, 1, 0)), " +
          "0, (acc, v) -> acc + v)").cast("double") / numHashes)
          .as("jaccard"))
  }

  /** Shared core of the near-dup family: collapse exact-duplicate texts to
    * their min-id representative FIRST, then run MinHash → LSH → Jaccard
    * over representatives only.
    *
    * Why the collapse is load-bearing at scale: identical documents collide
    * on EVERY band, so one 10k-copy boilerplate page makes each band bucket
    * quadratic (~5·10⁷ candidate rows per band, times the band count,
    * through the distinct) — the classic LSH blowup on exact-dup-heavy
    * crawl corpora. Representatives make the banded join linear in UNIQUE
    * texts; exact multiplicity lives in the returned membership frame, and
    * each consumer re-attaches it in the cheapest shape for its own output
    * (pair expansion, loser sets, star edges) instead of forcing quadratic
    * intra-group pairs through the join.
    *
    * Only shingle-bearing documents (≥ `k` words) participate, matching the
    * signature path: shorter docs have no shingles, hence no signatures,
    * hence never pair — and shingle-bearingness is a property of the text,
    * so an exact group is included or excluded whole.
    *
    * Returns `(membership, repPairs)`: membership = (`idCol`, `__rep`) for
    * every eligible doc (rep = min id of its exact group); repPairs =
    * (id1, id2, jaccard ≥ threshold) over representative ids. Both are
    * localCheckpointed — consumers join each several times, and the
    * checkpoint also keeps the expensive signature pipeline from re-running
    * per consumer join branch.
    */
  private def nearDupCore(
      df: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): (DataFrame, DataFrame) =
    // interactive mode bypasses the memo: its repPairs frame is LAZY, and
    // the memo's contract is checkpointed snapshots only (staleness =
    // session, never a mid-session re-read). Re-deriving the lazy verify
    // DAG per call is driver-side plan construction over the memoized
    // (checkpointed) sigCore frames — the expensive part still hits.
    if (interactive(df))
      nearDupCoreUncached(df, textCol, idCol, k, numHashes, rowsPerBand,
        threshold)
    else
      memoized(df, ("nearDupCore", textCol, idCol, k, numHashes, rowsPerBand,
        threshold)) {
        nearDupCoreUncached(df, textCol, idCol, k, numHashes, rowsPerBand,
          threshold)
      }

  private def nearDupCoreUncached(
      df: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    val c = sigCore(df, textCol, idCol, k, numHashes, rowsPerBand)
    val repPairsLazy =
      jaccardVerifyOn(c.shingles, c.counts, idCol, bandSelfPairs(c.bands, idCol))
        .filter(col("jaccard") >= threshold)
    val repPairs =
      if (interactive(df)) repPairsLazy else repPairsLazy.localCheckpoint(true)
    (c.membership, repPairs)
  }

  /** Threshold-independent signature frames over a corpus, memoized and
    * localCheckpointed: exact-group membership, distinct shingles of the
    * group REPRESENTATIVES, per-rep shingle counts, and LSH band keys.
    * This is the single expensive text pass the whole near-dup family —
    * [[nearDupCore]] (hence nearDuplicatePairs/dropNearDuplicates/
    * capNearDuplicates) and [[NearDupIndex.build]] (hence
    * [[dropDuplicatesAgainst]] and the streaming dedup) — shares: the text
    * column is scanned exactly twice (membership md5 + shingle pass) per
    * (corpus, params) per session, and everything downstream of it is
    * id/hash-keyed. Signatures are derived from the stored distinct-shingle
    * frame ([[minhashFromShingles]] — `min` is duplicate-insensitive), so
    * building band keys costs no third scan.
    */
  private final case class SigCore(membership: DataFrame, shingles: DataFrame,
    counts: DataFrame, bands: DataFrame)

  private def sigCore(df: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, rowsPerBand: Int): SigCore = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    memoized(df, ("sigCore", textCol, idCol, k, numHashes, rowsPerBand)) {
      val eligible = df
        .filter(size(TextAnalysis.words(col(textCol))) >= k)
        .select(col(idCol), col(textCol))
      val membershipLazy = eligible
        .select(col(idCol), md5(col(textCol)).as("__fp"))
        .withColumn("__rep", min(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
        .drop("__fp")
      // The stored membership frame checkpoints OFF the critical path (its
      // own thread): the shingle pass below inlines the same window into
      // its one job instead of waiting for the checkpoint barrier. The
      // window is computed twice, but over (id, fp) only — one extra
      // narrow shuffle buys one fewer sequential materialization, and at
      // interactive corpus sizes the barriers dominate the chain.
      //
      // These two checkpoints (sh, bands) stay EAGER in both modes: sh is
      // the text→id collapse every downstream frame re-reads through
      // aliased self-join branches (where ReusedExchange never fires — a
      // lazy sh re-tokenizes per branch and the plan blows up
      // combinatorially), and bands feeds both the self-pair and the
      // index-probe joins. Only the single-consumer leaves (repPairs, the
      // index fingerprint frame) go lazy in interactive mode.
      val memF = Future { membershipLazy.localCheckpoint(true) }
      val repDocs = eligible.join(
        membershipLazy.filter(col(idCol) === col("__rep")).select(col(idCol)),
        Seq(idCol), "left_semi")
      val sh = TextAnalysis.shingles(repDocs, textCol, k, idCol)
        .distinct().localCheckpoint(true)
      val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
      // bands stay eager in both modes too: a lazy band frame re-runs its
      // minhash aggregation per aliased self-join branch AND loses the
      // accurate checkpoint statistics the join planning keys off —
      // measured 2-3× slower on the clustered consumers (q92) than the
      // barrier it saves
      val bands = lshBandKeys(minhashFromShingles(sh, idCol, numHashes),
        idCol, rowsPerBand).localCheckpoint(true)
      SigCore(Await.result(memF, Duration.Inf), sh, cnt, bands)
    }
  }

  /** Signature-only analog of [[sigCore]] for the estimated-Jaccard mode:
    * exact-group membership, per-representative MinHash signatures (the
    * estimation-grade affine family — see [[estSignaturesFromShingles]]
    * for why the exact path's cheaper double-hash family cannot be used
    * for estimation), and LSH band keys over those signatures — and
    * nothing shingle-sized. The shingle frame exists only LAZILY inside
    * the signature aggregation (its single consumer), so the only stored
    * state is `numHashes` longs + band keys per representative: the index
    * stays signature-sized no matter how long the documents are. Memoized
    * per (corpus, params) per session like [[sigCore]].
    */
  private final case class EstSigCore(membership: DataFrame, sigs: DataFrame,
    bands: DataFrame)

  private def estSigCore(df: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, rowsPerBand: Int): EstSigCore = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    memoized(df, ("estSigCore", textCol, idCol, k, numHashes, rowsPerBand)) {
      val eligible = df
        .filter(size(TextAnalysis.words(col(textCol))) >= k)
        .select(col(idCol), col(textCol))
      val membershipLazy = eligible
        .select(col(idCol), md5(col(textCol)).as("__fp"))
        .withColumn("__rep", min(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
        .drop("__fp")
      // same off-critical-path membership checkpoint as sigCore
      val memF = Future { membershipLazy.localCheckpoint(true) }
      val repDocs = eligible.join(
        membershipLazy.filter(col(idCol) === col("__rep")).select(col(idCol)),
        Seq(idCol), "left_semi")
      // estimation-grade family ([[estSignaturesFromShingles]]): the
      // shingle frame exists only lazily inside this one aggregation
      val sigs = estSignaturesFromShingles(
        TextAnalysis.shingles(repDocs, textCol, k, idCol), idCol, numHashes)
        .localCheckpoint(true)
      val bands = lshBandKeys(sigs, idCol, rowsPerBand).localCheckpoint(true)
      EstSigCore(Await.result(memF, Duration.Inf), sigs, bands)
    }
  }

  /** [[nearDupCore]] with the verify stage replaced by
    * [[estimatedJaccardOn]]: same membership/rep-pair contract, but
    * `jaccard` is the MinHash-agreement estimate and no shingle store is
    * materialized anywhere.
    */
  private def estNearDupCore(
      df: DataFrame, textCol: String, idCol: String,
      k: Int, numHashes: Int, rowsPerBand: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    def compute: (DataFrame, DataFrame) = {
      val c = estSigCore(df, textCol, idCol, k, numHashes, rowsPerBand)
      val repPairsLazy =
        estimatedJaccardOn(c.sigs, c.sigs, idCol, numHashes,
          bandSelfPairs(c.bands, idCol))
          .filter(col("jaccard") >= threshold)
      val repPairs =
        if (interactive(df)) repPairsLazy else repPairsLazy.localCheckpoint(true)
      (c.membership, repPairs)
    }
    if (interactive(df)) compute
    else memoized(df, ("estNearDupCore", textCol, idCol, k, numHashes,
      rowsPerBand, threshold))(compute)
  }

  /** [[nearDuplicatePairs]] with signature-estimated Jaccard: candidate
    * pairs from LSH banding over the estimation-grade signature family
    * ([[estSignaturesFromShingles]]), each candidate scored by MinHash
    * agreement ([[estimatedJaccardOn]]) instead of an exact
    * shingle-intersection join. `jaccard` is the estimate — a multiple of
    * 1/`numHashes`, within √(J(1−J)/numHashes) of the true value in
    * expectation; identical shingle sets give identical signatures, so
    * exact-duplicate pairs carry estimate exactly 1.0.
    *
    * This is the 100 TB shape of the verify stage: nothing
    * O(corpus-tokens) is stored or shuffled after the one signature pass
    * — the trade production crawl dedup makes to keep dedup state
    * signature-sized.
    */
  def estimatedNearDuplicatePairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = AutoNumHashes, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val nh = resolveNumHashes(numHashes, estimated = true)
    val (membership, repPairs) =
      estNearDupCore(df, textCol, idCol, k, nh, rowsPerBand, threshold)
    val m1 = membership.select(col("__rep").as("id1"), col(idCol).as("__m1"))
    val m2 = membership.select(col("__rep").as("id2"), col(idCol).as("__m2"))
    val cross = repPairs.join(m1, "id1").join(m2, "id2")
      .select(least(col("__m1"), col("__m2")).as("id1"),
        greatest(col("__m1"), col("__m2")).as("id2"), col("jaccard"))
    val ga = membership.select(col("__rep"), col(idCol).as("__ma"))
    val gb = membership.select(col("__rep").as("__repb"), col(idCol).as("__mb"))
    val intra = ga.join(gb,
        col("__rep") === col("__repb") && col("__ma") < col("__mb"))
      .select(col("__ma").as("id1"), col("__mb").as("id2"),
        lit(1.0).as("jaccard"))
    cross.union(intra)
  }

  /** Near-dup detection end-to-end: MinHash → LSH candidates → Jaccard ≥
    * `threshold`. Exact-duplicate groups are collapsed before the banded
    * join ([[nearDupCore]]) and every qualifying member pair is emitted by
    * expansion afterward, so the OUTPUT is unchanged — identical docs have
    * jaccard exactly 1.0 and near-dup similarity transfers member-for-member
    * — while the join work is linear in unique texts. The expansion itself
    * is inherently |pairs|-sized; consumers that don't need explicit pairs
    * ([[dropNearDuplicates]], [[capNearDuplicates]]) stay linear by
    * consuming the core's membership + representative pairs directly.
    */
  def nearDuplicatePairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = AutoNumHashes, rowsPerBand: Int = 2,
      threshold: Double = 0.7): DataFrame = {
    val (membership, repPairs) =
      nearDupCore(df, textCol, idCol, k,
        // exact-Jaccard verification; the sentinel resolves to the
        // exact-mode default (8) like every sibling entry point
        resolveNumHashes(numHashes, estimated = false), rowsPerBand,
        threshold)
    val m1 = membership.select(col("__rep").as("id1"), col(idCol).as("__m1"))
    val m2 = membership.select(col("__rep").as("id2"), col(idCol).as("__m2"))
    val cross = repPairs.join(m1, "id1").join(m2, "id2")
      .select(least(col("__m1"), col("__m2")).as("id1"),
        greatest(col("__m1"), col("__m2")).as("id2"), col("jaccard"))
    val ga = membership.select(col("__rep"), col(idCol).as("__ma"))
    val gb = membership.select(col("__rep").as("__repb"), col(idCol).as("__mb"))
    val intra = ga.join(gb,
        col("__rep") === col("__repb") && col("__ma") < col("__mb"))
      .select(col("__ma").as("id1"), col("__mb").as("id2"),
        lit(1.0).as("jaccard"))
    cross.union(intra)
  }

  /** Remove near-duplicates: for every pair above `threshold` keep the
    * lower-id document (the standard keep-first policy; pair-wise, not
    * transitive closure — A~B and B~C with A≁C keeps A and C, dropping only
    * B, which matches common dedup-pipeline practice and avoids an
    * iterative connected-components pass).
    *
    * Scale shape: the drop set (distinct id2 values) is usually small — two
    * longs per dropped doc — but on crawl-scale corpora near-dup rates of
    * 30–50% are normal and an unconditional broadcast of ~n/3 ids would OOM
    * the driver. The anti-join is therefore left unhinted: AQE broadcasts
    * the drop set when its runtime size is under the broadcast threshold and
    * falls back to a shuffle join keyed on the id when it isn't (one
    * id-keyed, skew-free shuffle of the corpus — the unavoidable cost of a
    * genuinely large drop set).
    *
    * `estimatedJaccard = true` verifies candidates by MinHash agreement
    * ([[estimatedJaccardOn]]) instead of exact shingle-set Jaccard — same
    * policy, signature-sized state (see [[NearDupIndex]]'s mode table).
    */
  def dropNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = AutoNumHashes, rowsPerBand: Int = 2,
      threshold: Double = 0.7, estimatedJaccard: Boolean = false): DataFrame = {
    val nh = resolveNumHashes(numHashes, estimatedJaccard)
    // Linear in the corpus even under huge exact-dup groups: the pair-wise
    // keep-lowest-id policy over EXPANDED pairs is equivalent to dropping
    // (a) every non-representative member (loses to its own rep) and
    // (b) every member of a group on the id2 side of a representative pair
    // (rep1 < rep2 ≤ each member, so each loses to rep1; conversely any doc
    // with a smaller similar doc lands in one of the two sets) — no
    // quadratic intra-group pair expansion needed.
    val (membership, repPairs) =
      if (estimatedJaccard)
        estNearDupCore(df, textCol, idCol, k, nh, rowsPerBand, threshold)
      else
        nearDupCore(df, textCol, idCol, k, nh, rowsPerBand, threshold)
    val nonReps = membership.filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    val losingGroupMembers = repPairs.select(col("id2").as("__rep")).distinct()
      .join(membership, "__rep")
      .select(col(idCol))
    val losers = nonReps.union(losingGroupMembers).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash: `bits`-bit signature (≤ 32) as a '0'/'1' string, from md5 bits
    * of whitespace tokens, majority-weighted by occurrence.
    *
    * The token hash is materialized ONCE as a 32-bit word
    * (`conv(substring(md5, 1, 8))`); each bit-counter then reads its bit via
    * shift+mask of that word — one md5 + one conv per token instead of one
    * substring+conv per (token, bit).
    */
  def simhash(df: DataFrame, textCol: String, idCol: String, bits: Int = 32): DataFrame = {
    val grouped = simhashCounters(df, textCol, idCol, bits)
    val bitsStr = concat(
      (0 until bits).map(j => when(col(s"b$j") > 0, "1").otherwise("0")): _*)
    grouped.select(col(idCol), bitsStr.as("simhash"))
  }

  /** SimHash as a numeric word (bit j of the string signature = bit
    * `bits-1-j` of the long) — the form Hamming distance is computed on
    * (`bit_count(a ^ b)`), and what [[simhashNearDupPairs]] bands over.
    */
  def simhashWord(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 32): DataFrame = {
    val grouped = simhashCounters(df, textCol, idCol, bits)
    val word = (0 until bits)
      .map(j => when(col(s"b$j") > 0, lit(1L << (bits - 1 - j))).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col(idCol), word.as("simhash"))
  }

  /** Shared signature pass: one signed counter per bit position, majority
    * vote pending. The token hash is materialized ONCE as a 32-bit word
    * (`conv(substring(md5, 1, 8))`); each bit-counter then reads its bit via
    * shift+mask of that word — one md5 + one conv per token instead of one
    * substring+conv per (token, bit).
    */
  private def simhashCounters(df: DataFrame, textCol: String, idCol: String,
      bits: Int): DataFrame = {
    require(bits <= 32, "simhash uses the first 8 hex chars of md5")
    val toks = df
      .select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("__tok"))
      .select(col(idCol),
        conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long").as("__w"))
    val aggs = (0 until bits).map { j =>
      // bit j of the big-endian hex word: hex digit j/4, bit 3 - j%4 within
      // it = word bit 31 - j
      val bit = shiftright(col("__w"), 31 - j).bitwiseAND(lit(1L))
      sum(bit * 2 - lit(1)).as(s"b$j")
    }
    toks.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** All pairs within Hamming distance `maxHamming` of their SimHash words,
    * found by banding, not all-pairs: the word is cut into `bands` equal
    * slices and a pair is a candidate iff it collides on at least one slice.
    * By pigeonhole, `h` differing bits can spoil at most `h` bands, so with
    * `maxHamming <= bands - 1` every qualifying pair shares an intact band —
    * the banding is lossless (recall 1.0), exactly like MinHash-LSH banding
    * but over signature bits instead of hash rows.
    *
    * Scale shape: signatures are one long per doc (the text never shuffles
    * past the signature pass); candidates come from an equi-join on
    * `(band, slice-value)`; the Hamming verify is one `bit_count(xor)` per
    * candidate. Output: `id1 < id2`, `hamming`.
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 2, bands: Int = 4, bits: Int = 32): DataFrame = {
    require(bands > 0 && bits % bands == 0, "bands must divide bits")
    require(maxHamming < bands,
      s"banding is lossless only for maxHamming <= bands-1 (got $maxHamming/$bands)")
    val width = bits / bands
    val mask = (1L << width) - 1
    // the self-join below does NOT share exchanges across its aliased
    // branches (ReusedExchange never fires there — same finding as
    // semanticDedup), so checkpoint the signature pass or the full
    // tokenize+md5+bit-counter aggregation runs twice
    val sig = simhashWord(df, textCol, idCol, bits).localCheckpoint()
    val banded = sig.select(col(idCol), col("simhash"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)).as("bkey"))
        }: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band"), col("bk.bkey"))
    val left = banded.select(col("band"), col("bkey"),
      col(idCol).as("id1"), col("simhash").as("__s1"))
    val right = banded.select(col("band").as("__band2"), col("bkey").as("__bkey2"),
      col(idCol).as("id2"), col("simhash").as("__s2"))
    left.join(right,
        col("band") === col("__band2") && col("bkey") === col("__bkey2") &&
          col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("__s1").bitwiseXOR(col("__s2"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-dup pairs via sign-LSH bucketing: bucket on the
    * sign pattern of `planes` leading dimensions (a degenerate but shuffle-
    * cheap random-hyperplane LSH — planes are axis-aligned so the oracle can
    * reproduce them), verify cosine within buckets.
    *
    * For scoped exact search (small n) pass `bucketed = false` to compare
    * all pairs.
    */
  def embeddingNearDupPairs(
      df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95, planes: Int = 8,
      bucketed: Boolean = true): DataFrame = {
    val keyed =
      if (bucketed) {
        val signBits = (0 until planes).map(i =>
          when(col(vecCol).getItem(i) >= 0, lit("1")).otherwise(lit("0")))
        df.select(col(idCol), col(vecCol), concat(signBits: _*).as("__bucket"))
      } else df.select(col(idCol), col(vecCol), lit("all").as("__bucket"))
    val a = keyed.select(col("__bucket"), col(idCol).as("id1"), col(vecCol).as("__v1"))
    val b = keyed.select(col("__bucket").as("__bucket2"), col(idCol).as("id2"),
      col(vecCol).as("__v2"))
    a.join(b, col("__bucket") === col("__bucket2") && col("id1") < col("id2"))
      .select(col("id1"), col("id2"), vec_cos(col("__v1"), col("__v2")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup over an embedding column: assign every
    * row to its nearest centroid (KMeans centroids from an IVF build, or
    * any coarse quantizer), compare pairs WITHIN a cluster by cosine, and
    * drop all but the lowest-id member of each near-identical pair
    * (cosine ≥ threshold).
    *
    * Scale shape: the only join is an equi-join on cluster id, so the
    * pairwise work is Σ (cluster size)² — bounded by the quantizer's
    * granularity, never corpus² — and the fused [[graft.functions
    * .nearest_centroid]] assignment is one narrow codegen pass. This is
    * the embedding-space complement of [[dropNearDuplicates]] (MinHash on
    * text) and [[embeddingNearDupPairs]] (sign-LSH buckets): centroids
    * adapt to the data's actual density, so buckets stay balanced on real
    * (non-uniform) embedding distributions where fixed sign-planes skew.
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      centroids: Array[Array[Float]], threshold: Double = 0.95): DataFrame = {
    // materialize the assignment once: the self-join's two branches do NOT
    // share exchanges (verified — ReusedExchange never fires across the
    // aliased sides), so without this the O(k·dims) kernel and the source
    // scan would run once per side (same localCheckpoint pattern as
    // [[connectedComponents]]; blocks are reclaimed by the context cleaner)
    val keyed = df.select(col(idCol), col(vecCol))
      .withColumn("__c",
        graft.functions.nearest_centroid(col(vecCol), centroids))
      .localCheckpoint(true)
    val a = keyed.select(col("__c"), col(idCol).as("id1"), col(vecCol).as("__v1"))
    val b = keyed.select(col("__c").as("__c2"), col(idCol).as("id2"),
      col(vecCol).as("__v2"))
    val losers = a.join(b, col("__c") === col("__c2") && col("id1") < col("id2"))
      .filter(vec_cos(col("__v1"), col("__v2")) >= threshold)
      .select(col("id2").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental dedup: drop `batch` docs that exactly- or near-duplicate
    * any `corpus` doc — the "dedup the incoming crawl against existing
    * data" primitive. Ids must be globally unique across the two frames.
    * Batch-internal duplicates are dropped too (keep-lowest-id, matching
    * [[dropNearDuplicates]]); the corpus is never modified.
    *
    * Exact duplicates are caught by a dedicated md5 pass, not just the
    * MinHash path: docs shorter than `k` words have no shingles and would
    * sail through the banded join even when byte-identical (titles and
    * one-liners are common in crawl batches).
    *
    * Scale shape: the corpus side IS a pre-computed signature store —
    * [[NearDupIndex]] built via the memoized [[sigCore]] — so corpus
    * signatures are derived once per session no matter how many batches
    * (or other near-dup operators) touch the same corpus; the batch side
    * is per-doc signature work plus band-keyed equi-joins, and the exact
    * pass is one hash-groupBy + semi-join on uniform md5 keys.
    */
  def dropDuplicatesAgainst(
      batch: DataFrame, corpus: DataFrame, textCol: String, idCol: String,
      k: Int = 3, numHashes: Int = AutoNumHashes, rowsPerBand: Int = 2,
      threshold: Double = 0.7, estimatedJaccard: Boolean = false): DataFrame = {
    // Delegates to the signature index: build once over the corpus
    // (memoized per session via sigCore, so repeated dedups against the
    // same corpus — or any other near-dup op on it — never re-derive its
    // signatures) and classify the batch against it.
    //
    // The corpus-side build and the batch-side signature derivation are
    // INDEPENDENT chains of small eager materializations (each a sequence
    // of checkpointed frames whose cost at interactive corpus sizes is
    // dominated by per-job fixed overhead, not data). Submitting them from
    // two threads overlaps the chains — Spark schedules jobs from
    // concurrent threads freely — hiding the shorter chain's latency
    // entirely; both land in the session memo, so dedupBatch below reuses
    // every frame. Measured ~2× on the suite's incremental-dedup query.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val nh = resolveNumHashes(numHashes, estimatedJaccard)
    val idxF = Future {
      NearDupIndex.build(corpus, textCol, idCol, k, nh, rowsPerBand,
        estimatedJaccard)
    }
    // warm the batch-side memo entries concurrently with the corpus build
    if (estimatedJaccard)
      estNearDupCore(batch, textCol, idCol, k, nh, rowsPerBand,
        threshold)
    else
      nearDupCore(batch, textCol, idCol, k, nh, rowsPerBand, threshold)
    val idx = Await.result(idxF, Duration.Inf)
    idx.dedupBatch(batch, textCol, threshold)
  }

  /** Connected components over an undirected edge list — turns pair-wise
    * near-dup hits into transitive duplicate CLUSTERS (A~B, B~C ⇒ {A,B,C}),
    * the "keep one representative per cluster" dedup policy
    * [[dropNearDuplicates]] deliberately skips.
    *
    * Iterative min-label propagation: every node starts labelled with its
    * own id; each round every node takes the min of its own and its
    * neighbours' labels; fixpoint = each node labelled with the smallest id
    * reachable from it (= the cluster id). Rounds needed = graph diameter —
    * for near-dup clusters typically 2–4. Each round is one shuffle join +
    * one hash aggregation, and `localCheckpoint` truncates the growing plan
    * lineage so round N doesn't re-execute rounds 1..N−1. At 100 TB-scale
    * graphs with long chains, switch to the large-star/small-star
    * alternation (Kiveris et al., "Connected Components in MapReduce"),
    * which squares the label-spread per round — available here as
    * `algorithm = "star"` ([[connectedComponentsStar]]); plain propagation
    * is the right trade for the shallow clusters dedup produces.
    *
    * Returns one row per node that appears in `edges`: (`node`, `cluster`).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20, algorithm: String = "label"): DataFrame = {
    require(algorithm == "label" || algorithm == "star",
      s"unknown connected-components algorithm: $algorithm")
    if (algorithm == "star")
      return connectedComponentsStar(edges, srcCol, dstCol, maxIter)
    memoized(edges, ("cc", srcCol, dstCol, maxIter, algorithm)) {
      connectedComponentsLabel(edges, srcCol, dstCol, maxIter)
    }
  }

  private def connectedComponentsLabel(edges: DataFrame, srcCol: String,
      dstCol: String, maxIter: Int): DataFrame = {
    val sym = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .union(edges.select(col(dstCol).as("__a"), col(srcCol).as("__b")))
      .distinct()
      .localCheckpoint()
    var labels = sym.select(col("__a").as("node"))
      .distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val viaNeighbour = sym.join(labels, col("__b") === col("node"))
        .select(col("__a").as("node"), col("lbl"))
      val next = labels.union(viaNeighbour)
        .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      changed = next.join(labels.withColumnRenamed("lbl", "__old"), "node")
        .filter(col("lbl") =!= col("__old")).count()
      labels = next
      it += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels.withColumnRenamed("lbl", "cluster")
  }

  /** Connected components by large-star/small-star alternation (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — the deep-chain
    * escape hatch for [[connectedComponents]]: label propagation needs
    * diameter rounds (a 1000-link chain of near-dups = 1000 shuffles), the
    * star alternation converges in O(log diameter) rounds because each
    * round re-points whole neighbourhoods at their minimum, squaring the
    * reach per round.
    *
    *   - large-star: per node u, every LARGER neighbour re-points to the
    *     minimum of u's neighbourhood (∪ u) — strictly decreases edges to
    *     larger targets without disconnecting anything;
    *   - small-star: per node u (over edges oriented larger → smaller),
    *     all smaller neighbours and u itself re-point to the neighbourhood
    *     minimum — flattens chains into stars.
    *
    * Both rounds are one groupBy + one equi-join each, on node-id keys.
    * Fixpoint: the edge set stops changing; edges then form stars
    * (member → component minimum). Same output contract as
    * [[connectedComponents]]: one (`node`, `cluster`) row per node
    * appearing in `edges`.
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("__m"))
      canon(sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("u"), col("v")).as("h"),
        least(col("u"), col("v")).as("l"))
      val mins = o.groupBy(col("h")).agg(min(col("l")).as("__m"))
      canon(o.join(mins, "h")
        .select(col("l").as("u"), col("__m").as("v"))
        .union(mins.select(col("h").as("u"), col("__m").as("v"))))
    }
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    var cur = canon(raw).localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint()
      // unchanged edge set = fixpoint (both counts needed: exceptAll is
      // one-directional)
      converged = next.count() == cur.count() &&
        next.exceptAll(cur).isEmpty
      cur = next
      it += 1
    }
    require(converged, s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint edges are stars; canon orders (least, greatest), so u is the
    // component minimum and v the member — each member appears in exactly
    // one edge. Centers (and isolated self-loop nodes) label themselves.
    val nodes = raw.select(col("u").as("node"))
      .union(raw.select(col("v").as("node"))).distinct()
    nodes.join(cur.select(col("v").as("node"), col("u").as("__lbl")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__lbl"), col("node")).as("cluster"))
  }

  /** Precomputed near-dup signature index over a reference corpus — the
    * signature-store shape of [[dropDuplicatesAgainst]] for INCREMENTAL
    * use: build once, dedup every incoming batch against it with O(batch)
    * new work, optionally growing it with each batch's survivors
    * ([[graft.streaming.EventPipeline.nearDedupStream]] is the streaming
    * wrapper, and [[dropDuplicatesAgainst]] is the one-shot facade over
    * build + dedupBatch). Once built, the corpus never re-tokenizes or
    * re-hashes — and the build itself is session-memoized.
    *
    * Scale shape: the stored frames are band keys (numHashes/rowsPerBand
    * rows per doc), text fingerprints, and — mode-dependent — either the
    * exact-verify frames (distinct shingles + shingle counts) or the
    * MinHash signatures; all id-keyed, all localCheckpointed. Batch joins
    * key on (band, bkey) and (doc id, shingle/array), never a bare hot
    * shingle, so per-batch NEW WORK (shingling, signatures, banding) is
    * |batch| × shingles-per-doc regardless of index size; the candidate
    * and verify joins additionally STREAM the stored index frames once
    * per batch — and on a large corpus that stream is a BROADCAST-PRUNED
    * columnar pass (r13: the batch's key set broadcasts as the semi-join
    * build side, so no corpus frame ever shuffles or sorts — see
    * [[dedupBatch]]) — scan-speed with a small constant, horizontally
    * scalable, and the reason the stored layout is row-minimal (the walls
    * at 500k and 5M docs are in bench_history/BENCH_neardup5m_r1*.json).
    *
    * The two verify modes are the index's 100 TB dial:
    *   - EXACT (`signatures = None`): candidates are verified by exact
    *     shingle-set Jaccard. The shingle store is ∝ corpus TOKENS — at
    *     100 TB that store is itself TBs, inherent to exact verification.
    *   - ESTIMATED (`signatures = Some(...)`, built with
    *     `estimatedJaccard = true`): candidates are scored by MinHash
    *     agreement ([[estimatedJaccardOnArr]]); the index stores ONE
    *     seed-ordered `numHashes`-long array row (r11; was `numHashes`
    *     seed rows — the 32× row-count cut is what the per-batch verify
    *     scan streams) + band keys per representative — ~0.4 KB per doc
    *     parquet-encoded at the 32-seed default (measured at 5M docs:
    *     2.08 GB saved at r14's long band keys — was 4.06 GB as md5
    *     strings, BENCH_neardup5m_r14/_r12), token-count-independent —
    *     the shape that keeps an incremental dedup index
    *     deployable against an unbounded crawl. The estimate is within
    *     √(J(1−J)/numHashes) of exact in expectation; raise `numHashes`
    *     to tighten it.
    */
  /** The frames [[NearDupIndex.appended]] has accumulated since the
    * index's last [[NearDupIndex.save]]/`load` — what a DELTA checkpoint
    * writes. Every member is localCheckpoint-backed (appended slices are
    * checkpointed at append time), so a delta save re-runs no corpus
    * work.
    */
  private[graft] final case class NearDupDelta(
      bands: DataFrame, fingerprints: DataFrame,
      shingles: Option[DataFrame], counts: Option[DataFrame],
      signatures: Option[DataFrame])

  final case class NearDupIndex(
      idCol: String, k: Int, numHashes: Int, rowsPerBand: Int,
      bands: DataFrame, fingerprints: DataFrame,
      shingles: Option[DataFrame], counts: Option[DataFrame],
      signatures: Option[DataFrame]) {

    // Incremental-checkpoint tracking (r13), single-writer by the class
    // contract: where this index's persisted state lives (path + version)
    // and the appended-since slices a delta save writes. Instance state,
    // not constructor fields: save() must update the handle in place (its
    // Unit API runs at batch cadence), and appended()/compacted() hand
    // the state to the copies they return.
    private var persistedBase: Option[(String, Long)] = None
    private var pendingDelta: Option[NearDupDelta] = None
    // true iff this handle's frames include parquet scans of an on-disk
    // version chain (set by load(); cleared by compacted(), which pulls
    // everything into executor memory). Governs whether a FOLD save must
    // hand back a re-pointed handle — see save().
    private var diskBacked: Boolean = false
    // set when a fold save re-pointed the write lineage to a NEW handle:
    // further saves through THIS handle would silently write deltas whose
    // base chain the next vacuum deletes out from under these frames —
    // fail fast at the save instead of FileNotFound mid-read later
    private var superseded: Boolean = false
    private[graft] def persistedVersion: Option[(String, Long)] = persistedBase

    /** True when the index verifies candidates by signature-estimated
      * Jaccard (no shingle store).
      */
    def estimated: Boolean = signatures.isDefined

    /** Batch survivors: rows that are not exact/near duplicates of the
      * index, after batch-internal dedup (exact keep-lowest-id + the
      * pair-wise near policy — same semantics as
      * [[Dedup.dropDuplicatesAgainst]], with the index standing in for the
      * corpus). Internal dedup runs FIRST so index checks touch only
      * internal survivors.
      *
      * Corpus-side cost shape (r13): every join against a stored index
      * frame (band keys, fingerprints, signatures/shingles/counts) is
      * rewritten as a BROADCAST-PRUNED pass when the corpus side is large
      * ([[GraftConf.DedupPruneMinCorpusBytes]], driver-side plan stats) and
      * the batch's key set is broadcastable
      * ([[Dedup.dedupPruneMaxBatchKeys]]): the batch-derived key set
      * (band keys / fingerprints / candidate ids) broadcasts as the
      * build side of a semi-join, so each corpus frame streams ONCE
      * through a codegen hash probe — no shuffle, no sort, no wide rows
      * moved. The per-batch corpus term drops from a shuffle join over
      * the full band frame (measured near-linear in corpus: 5.7 → 32.2 s
      * for 10× corpus at identical batch work, BENCH_neardup5m_r12) to a
      * pure columnar scan. Verdicts are identical by construction — the
      * semi-join discards only corpus rows that cannot join (DedupSpec
      * pins pruned-vs-full survivor equality).
      */
    def dedupBatch(batch: DataFrame, textCol: String,
        threshold: Double = 0.7): DataFrame = {
      // Batch-side signature frames come from the same memoized sigCore the
      // rest of the near-dup family uses — computed once per (batch,
      // params) even though both the internal pass and the index pass below
      // consume them. All classification runs on exact-group
      // REPRESENTATIVES; member losers are recovered through the membership
      // frame (identical text ⇒ identical shingles ⇒ identical verdict),
      // so nothing here is quadratic in exact-group size.
      // Batch band keys from the same memoized core the rep-pair pass
      // below uses (eagerly checkpointed there in both modes, so the
      // count is a cache scan): the prune decision needs the corpus-side
      // size (driver-side plan stats — zero jobs; accurate for both
      // localCheckpointed and parquet-backed frames) and the batch key
      // count, paid only when the corpus side is big enough to matter.
      val coreBands =
        if (estimated) estSigCore(batch, textCol, idCol, k, numHashes,
          rowsPerBand).bands
        else sigCore(batch, textCol, idCol, k, numHashes, rowsPerBand).bands
      val spark = batch.sparkSession
      val corpusBig = bands.queryExecution.optimizedPlan.stats.sizeInBytes >=
        GraftConf.DedupPruneMinCorpusBytes.get(spark)
      val prune = corpusBig &&
        coreBands.count() <= Dedup.dedupPruneMaxBatchKeys
      val internalFp = batch.select(col(idCol), md5(col(textCol)).as("__fp"))
      val exactInternalLosers = internalFp
        .join(internalFp.groupBy(col("__fp")).agg(min(col(idCol)).as("__keep")),
          "__fp")
        .filter(col(idCol) > col("__keep")).select(col(idCol))
      // pruned: stream corpus fingerprints once against the broadcast
      // batch fp set (a left_semi's build side must be its right side, so
      // the unpruned shape shuffles/builds the CORPUS frame per batch);
      // the matched set is batch-bounded and broadcasts back
      val exactVsIndexLosers = if (prune) {
        val matched = fingerprints.join(
          broadcast(internalFp.select(col("__fp")).distinct()),
          Seq("__fp"), "left_semi")
        internalFp.join(broadcast(matched), Seq("__fp"), "left_semi")
          .select(col(idCol))
      } else internalFp
        .join(fingerprints, Seq("__fp"), "left_semi")
        .select(col(idCol))
      // pair-wise keep-lowest-id INSIDE the batch (same derivation as
      // dropNearDuplicates: non-reps lose to their rep, and every member of
      // a group on the id2 side of a rep pair loses to the id1 rep). The
      // verify stage follows the index's mode, so `threshold` means the
      // same thing batch-internally and vs the index.
      val (membership, repPairs) =
        if (estimated)
          estNearDupCore(batch, textCol, idCol, k, numHashes, rowsPerBand,
            threshold)
        else
          nearDupCore(batch, textCol, idCol, k, numHashes, rowsPerBand,
            threshold)
      val nonReps = membership.filter(col(idCol) =!= col("__rep"))
        .select(col(idCol))
      val losingBatchReps = repPairs.select(col("id2").as("__rep")).distinct()
      // batch reps vs the index: band-keyed candidates, then mode-matched
      // verification — exact Jaccard against the stored shingle/count
      // frames, or MinHash agreement against the stored signatures; a rep
      // that near-dups the index drops its whole exact group
      // Candidate generation against the stored band frame. Pruned: the
      // batch's distinct (band, bkey) set broadcasts, the corpus band
      // frame streams once through the semi-join probe, and the (small)
      // surviving corpus rows are eagerly checkpointed so the verify
      // stage's broadcast of candidate ids re-executes a bounded frame —
      // not a second corpus stream.
      // The verify stage broadcasts the candidate CORPUS ids, whose count
      // is bounded by corpus-side band-key skew, not by the batch-key gate
      // (a hot band key — boilerplate/template text — can explode it).
      // candidates() measures the pruned corpus survivors (a cache scan of
      // the eager checkpoint) and clears this flag when they exceed
      // graft.dedup.pruneMaxCandIds, so pruneByIds falls back to a
      // non-broadcast semi-join instead of OOMing the driver on a
      // skew-inflated build side.
      var candIdsBroadcastable = true
      val maxCandIds = GraftConf.DedupPruneMaxCandIds.get(spark)
      // bkey encodes the band (r14, lshBandKeys) — every probe below is
      // a single-long-key join, the cheapest hashed relation Spark has
      def candidates(batchIdAs: String, corpusIdAs: String): DataFrame = {
        val batchBands = coreBands
          .select(col(idCol).as(batchIdAs), col("bkey"))
        val corpusBands = bands
          .select(col(idCol).as(corpusIdAs), col("bkey"))
        val corpusSide =
          if (prune) {
            val cs = corpusBands.join(
              broadcast(coreBands.select(col("bkey")).distinct()),
              Seq("bkey"), "left_semi").localCheckpoint(true)
            // gate on what actually broadcasts: the DISTINCT surviving
            // corpus ids, not the band rows (numBands rows/doc — counting
            // rows tripped the fallback ~16× early, r14 ADVICE). One pass
            // over the eager checkpoint; HLL ±2% with a 1.1 safety factor
            // keeps the cap conservative without an exact-distinct
            // shuffle.
            val gateRow = cs.agg(
              approx_count_distinct(col(corpusIdAs), 0.02).as("ids")).head()
            candIdsBroadcastable =
              gateRow.getLong(0) * 1.1 <= maxCandIds
            cs
          } else corpusBands
        batchBands.join(corpusSide, Seq("bkey"))
          .select(col(batchIdAs), col(corpusIdAs)).distinct()
      }
      // pruned verify: restrict a stored per-doc frame to the candidate
      // corpus ids — one broadcast-probed stream instead of shuffling the
      // corpus-sized frame into the verify join; when the candidate set is
      // skew-inflated past the broadcast cap, keep the semi-join but let
      // Spark shuffle it (one corpus shuffle beats a driver OOM)
      def pruneByIds(frame: DataFrame, candIds: DataFrame): DataFrame =
        if (prune && candIdsBroadcastable)
          frame.join(broadcast(candIds), Seq(idCol), "left_semi")
        else if (prune) frame.join(candIds, Seq(idCol), "left_semi")
        else frame
      val nearRepLosers = if (estimated) {
        val c = estSigCore(batch, textCol, idCol, k, numHashes, rowsPerBand)
        val cands = candidates("id1", "id2")
        val sigsSrc = pruneByIds(signatures.get,
          cands.select(col("id2").as(idCol)).distinct())
        // batch side regrouped to arrays at verify time (bounded by the
        // batch); the corpus side is already stored in array form
        estimatedJaccardOnArr(sigsToArray(c.sigs, idCol), sigsSrc,
            idCol, numHashes, cands)
          .filter(col("jaccard") >= threshold)
          .select(col("id1").as("__rep")).distinct()
      } else {
        val c = sigCore(batch, textCol, idCol, k, numHashes, rowsPerBand)
        val cands = candidates("__bid", "__cid")
        val candIds = cands.select(col("__cid").as(idCol)).distinct()
        val inter = cands
          .join(c.shingles.select(col(idCol).as("__bid"), col("s")), Seq("__bid"))
          .join(pruneByIds(shingles.get, candIds)
              .select(col(idCol).as("__cid2"), col("s").as("__s2")),
            col("__cid") === col("__cid2") && col("s") === col("__s2"))
          .groupBy(col("__bid"), col("__cid")).agg(count(lit(1)).as("__c"))
        inter
          .join(c.counts.select(col(idCol).as("__bid"), col("__n").as("__bn")),
            Seq("__bid"))
          .join(pruneByIds(counts.get, candIds)
            .select(col(idCol).as("__cid"), col("__n")), Seq("__cid"))
          .filter(col("__c").cast("double") /
            (col("__bn") + col("__n") - col("__c")) >= threshold)
          .select(col("__bid").as("__rep")).distinct()
      }
      // ONE membership join for both rep-derived loser classes (batch-
      // internal pair losers and reps near-dup'ing the index): the join
      // distributes over the union, and each input is already a distinct
      // rep set, so unioning first halves the join/stage count at
      // identical semantics
      val repLosers = losingBatchReps.union(nearRepLosers)
        .join(membership, "__rep").select(col(idCol))
      // no distinct on the union: left_anti hash-dedups its build side,
      // and the loser multiplicity is bounded (each branch emits at most
      // a few rows per batch doc), so the exchange+aggregate a distinct
      // would add buys nothing at any scale
      val losers = exactInternalLosers.union(exactVsIndexLosers)
        .union(nonReps).union(repLosers)
      batch.join(losers, Seq(idCol), "left_anti")
    }

    /** Grow the index with `extra` rows (typically a batch's survivors).
      * New slices are checkpointed; the stored frames become shallow
      * unions — call [[compacted]] periodically on long streams to
      * truncate the growing union lineage.
      */
    def appended(extra: DataFrame, textCol: String): NearDupIndex = {
      val eligible = extra
        .filter(size(TextAnalysis.words(col(textCol))) >= k)
        .select(col(idCol), col(textCol))
      val fp = extra.select(md5(col(textCol)).as("__fp")).distinct()
        .localCheckpoint(true)
      val (ni, slice) = if (estimated) {
        // signature mode grows by one numHashes-long array + band keys
        // per doc — the shingle-sized frames are never derived at all;
        // same estimation-grade family as the stored corpus signatures
        val sigRows = estSignaturesFromShingles(
          TextAnalysis.shingles(eligible, textCol, k, idCol), idCol, numHashes)
          .localCheckpoint(true)
        val bnd = lshBandKeys(sigRows, idCol, rowsPerBand).localCheckpoint(true)
        val arr = sigsToArray(sigRows, idCol).localCheckpoint(true)
        (copy(bands = bands.union(bnd), fingerprints = fingerprints.union(fp),
          signatures = Some(signatures.get.union(arr))),
          NearDupDelta(bnd, fp, None, None, Some(arr)))
      } else {
        val sh = TextAnalysis.shingles(eligible, textCol, k, idCol)
          .distinct().localCheckpoint(true)
        val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
          .localCheckpoint(true)
        val bnd = lshBandKeys(
          minhashSignatures(eligible, textCol, idCol, k, numHashes),
          idCol, rowsPerBand).localCheckpoint(true)
        (copy(bands = bands.union(bnd), fingerprints = fingerprints.union(fp),
          shingles = Some(shingles.get.union(sh)),
          counts = Some(counts.get.union(cnt))),
          NearDupDelta(bnd, fp, Some(sh), Some(cnt), None))
      }
      // the copy keeps its persisted lineage and extends the
      // appended-since slices — what a delta checkpoint will write.
      // superseded propagates too: a copy derived from a fold-superseded
      // handle still scans the old chain through its base frames, so its
      // save() must fail just as fast (persistedBase alone can't catch it
      // — save() advanced it to the fold version before superseding).
      ni.persistedBase = persistedBase
      ni.diskBacked = diskBacked
      ni.superseded = superseded
      ni.pendingDelta = Some(pendingDelta match {
        case None => slice
        case Some(d) => NearDupDelta(
          d.bands.union(slice.bands),
          d.fingerprints.union(slice.fingerprints),
          d.shingles.map(_.union(slice.shingles.get)),
          d.counts.map(_.union(slice.counts.get)),
          d.signatures.map(_.union(slice.signatures.get)))
      })
      ni
    }

    /** Re-checkpoint every stored frame, truncating the union lineage that
      * [[appended]] accumulates — and detaching a loaded handle from its
      * on-disk version (see the [[save]] vacuum grace window).
      */
    def compacted(): NearDupIndex = {
      val ni = copy(bands = bands.localCheckpoint(true),
        fingerprints = fingerprints.localCheckpoint(true),
        shingles = shingles.map(_.localCheckpoint(true)),
        counts = counts.map(_.localCheckpoint(true)),
        signatures = signatures.map(_.localCheckpoint(true)))
      // delta slices are checkpoint-backed already (appended checkpoints
      // them at append time) — carry them through unchanged. The compact
      // detaches every frame from disk, so the handle is no longer
      // exposed to the save-side vacuum.
      // superseded propagates: compacting a fold-superseded handle does
      // pull its frames into memory (valid only until the old chain is
      // vacuumed at the next save), but letting the copy WRITE would fork
      // the single-writer lineage away from the fold — keep it read-only.
      ni.persistedBase = persistedBase
      ni.pendingDelta = pendingDelta
      ni.diskBacked = false
      ni.superseded = superseded
      ni
    }

    /** Persist the index durably under `path` — the [[ManifestLayout]]
      * versioned, crash-atomic layout [[VectorSearch.IvfIndex]] uses for
      * its manifest: frames land in a fresh `v########` dir, the commit
      * marker is written LAST, and older versions are vacuumed to a
      * two-version grace window. The in-memory index lives in
      * localCheckpoints (executor memory) and dies with the session;
      * a crawl-dedup pipeline restarts, and [[NearDupIndex.load]] must
      * reopen exactly this state — call save() at batch-cadence
      * checkpoints (after [[appended]]/[[compacted]]), like any other
      * durable index artifact.
      *
      * Cost: one distributed parquet write per stored frame — in
      * estimated mode that is signature-sized: one numHashes-long array
      * row + numHashes/rowsPerBand band keys + one fingerprint per rep,
      * ≈ 0.4 KB/doc parquet-encoded at the 32-seed default (measured:
      * a 5M-doc index saves 2.08 GB in ~3 s at r14's long band keys;
      * 4.06 GB / 8.7 s as md5 strings, BENCH_neardup5m_r14/_r12) —
      * token-count-independent, a checkpoint a crawl pipeline affords
      * at batch cadence. Exact mode additionally writes the
      * shingle/count store (∝ corpus tokens — inherent to exact
      * verification; the class doc's mode table is the 100 TB dial).
      *
      * Returns the handle to keep using in the write loop. For an
      * in-memory index (built this session, or [[compacted]]) that is
      * `this`. For a LOADED handle, a FOLD save (full rewrite at the
      * [[GraftConf.DedupMaxDeltaChain]] cadence) returns a handle RE-POINTED at
      * the just-written version: the loaded handle's own frames are lazy
      * parquet scans of the OLD chain, which becomes vacuum-eligible at
      * the save after the fold — keep writing through the stale handle
      * and the next-next save deletes the files under its scans
      * (FileNotFound mid-job). `idx = idx.save(path)` is the crawl-loop
      * contract; DedupSpec drives a loaded handle through two full
      * fold+vacuum cycles to pin it.
      *
      * Vacuum grace window for READERS: each save keeps the TWO newest
      * committed versions plus any delta chain they need, deleting older
      * ones. A separately-loaded reader handle kept across two or more
      * subsequent saves of the same path gets FileNotFound mid-job (the
      * second save after the load is the first that can delete the
      * loaded version) —
      * pull long-lived readers into executor memory with [[compacted]]
      * (which also detaches a writer handle from the vacuum entirely).
      */
    def save(path: String): NearDupIndex = {
      // a discarded save() result compiles silently (no -Wvalue-discard);
      // this turns the stale-handle mistake into an immediate, explained
      // failure instead of a FileNotFound two saves later
      require(!superseded,
        "this NearDupIndex handle was superseded by a fold save — " +
          "keep writing through save()'s returned handle")
      val spark = bands.sparkSession
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val vs = ManifestLayout.versions(fs, root)
      val next = ManifestLayout.nextVersion(vs)
      val vdir = ManifestLayout.versionDir(path, next)
      // DELTA checkpoint (r13) when this handle's persisted base is still
      // the path's newest committed version (single-writer continuity)
      // and the chain hasn't hit the fold cadence: write ONLY the
      // appended-since slices — checkpoint cost ∝ batch survivors, not
      // corpus (a full 5M-doc save rewrites ~2 GB; a 10k-batch
      // delta writes ~8 MB). Every maxDeltaChain-th save folds the chain
      // back to one full version, bounding load()'s union width and the
      // vacuum keep-window.
      val committedVs = vs.filter(_._2).map(_._1).sorted
      val newestCommitted = committedVs.lastOption
      val chainLen = ManifestLayout.chainOf(fs, path, committedVs).length
      val asDelta = pendingDelta.isDefined &&
        persistedBase.exists { case (p, v) =>
          p == path && newestCommitted.contains(v) } &&
        chainLen > 0 && chainLen < GraftConf.DedupMaxDeltaChain.get(spark)
      if (asDelta) {
        val d = pendingDelta.get
        d.bands.write.parquet(s"$vdir/bands")
        d.fingerprints.write.parquet(s"$vdir/fingerprints")
        d.shingles.foreach(_.write.parquet(s"$vdir/shingles"))
        d.counts.foreach(_.write.parquet(s"$vdir/counts"))
        d.signatures.foreach(_.write.parquet(s"$vdir/signatures"))
      } else {
        bands.write.parquet(s"$vdir/bands")
        fingerprints.write.parquet(s"$vdir/fingerprints")
        shingles.foreach(_.write.parquet(s"$vdir/shingles"))
        counts.foreach(_.write.parquet(s"$vdir/counts"))
        signatures.foreach(_.write.parquet(s"$vdir/signatures"))
      }
      import spark.implicits._
      Seq((idCol, k, numHashes, rowsPerBand, estimated))
        .toDF("idCol", "k", "numHashes", "rowsPerBand", "estimated")
        .coalesce(1).write.parquet(s"$vdir/meta")
      ManifestLayout.commitAndVacuum(fs, path, next, vs,
        nextIsDelta = asDelta)
      persistedBase = Some((path, next))
      pendingDelta = None
      // A disk-backed handle that just FOLDED must not keep serving from
      // its old chain (vacuum-eligible at the next save): hand back a
      // handle whose frames scan the fold itself. Delta saves leave the
      // chain base alive (the vacuum keeps every grace version's base),
      // so `this` remains valid there.
      if (asDelta || !diskBacked) this
      else {
        val fresh = NearDupIndex(idCol, k, numHashes, rowsPerBand,
          bands = spark.read.parquet(s"$vdir/bands"),
          fingerprints = spark.read.parquet(s"$vdir/fingerprints"),
          shingles = shingles.map(_ => spark.read.parquet(s"$vdir/shingles")),
          counts = counts.map(_ => spark.read.parquet(s"$vdir/counts")),
          signatures =
            signatures.map(_ => spark.read.parquet(s"$vdir/signatures")))
        fresh.persistedBase = Some((path, next))
        fresh.diskBacked = true
        superseded = true
        fresh
      }
    }
  }

  object NearDupIndex {
    /** Build the signature index over `corpus` — one shingle scan, one
      * signature aggregation, one fingerprint pass; everything stored is
      * checkpointed and id-keyed.
      */
    /** Build the signature index over `corpus` from the session-memoized
      * [[sigCore]] (or [[estSigCore]] when `estimatedJaccard`) — one
      * shingle scan, one fingerprint pass, shared with every other
      * near-dup operator touching the same corpus this session. The
      * stored band/shingle/count/signature frames cover exact-group
      * REPRESENTATIVES only: identical corpus texts share every band key,
      * shingle and signature, so rep rows generate the same batch-side
      * candidates and verdicts at 1/group-size the join fan-in, and exact
      * members are fully covered by the (distinct) fingerprint frame.
      *
      * `estimatedJaccard = true` stores MinHash signatures instead of the
      * O(corpus-tokens) shingle/count frames and verifies candidates by
      * signature agreement — the signature-sized index for unbounded
      * corpora (see the class doc's mode table).
      */
    def build(corpus: DataFrame, textCol: String, idCol: String, k: Int = 3,
        numHashes: Int = AutoNumHashes, rowsPerBand: Int = 2,
        estimatedJaccard: Boolean = false): NearDupIndex = {
      val nh = resolveNumHashes(numHashes, estimatedJaccard)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      def mk(inline: Boolean): NearDupIndex = {
        // fingerprints are independent of the signature chain — derive
        // them concurrently so the build's critical path is sigCore alone
        // (lazily in interactive mode, where no job runs until a batch is
        // classified and the whole build is just plan construction)
        val fpF = Future {
          val fp = corpus.select(md5(col(textCol)).as("__fp")).distinct()
          if (inline) fp else fp.localCheckpoint(true)
        }
        if (estimatedJaccard) {
          val c = estSigCore(corpus, textCol, idCol, k, nh, rowsPerBand)
          // stored signatures are ARRAY-per-doc (r11): one row per rep,
          // seed-ordered — see sigsToArray for the scan-size reasoning
          val arr = sigsToArray(c.sigs, idCol)
          NearDupIndex(idCol, k, nh, rowsPerBand, c.bands,
            Await.result(fpF, Duration.Inf), None, None,
            Some(if (inline) arr else arr.localCheckpoint(true)))
        } else {
          val c = sigCore(corpus, textCol, idCol, k, nh, rowsPerBand)
          NearDupIndex(idCol, k, nh, rowsPerBand, c.bands,
            Await.result(fpF, Duration.Inf), Some(c.shingles), Some(c.counts),
            None)
        }
      }
      // interactive mode bypasses the memo (lazy fingerprint frame — the
      // memo holds checkpointed snapshots only); the sigCore underneath is
      // still memoized, so a repeat build re-pays only the fingerprint
      // plan construction. Long-lived holders (the streaming dedup) keep
      // the returned index object itself, so per-call laziness never
      // compounds across micro-batches.
      if (interactive(corpus)) mk(inline = true)
      else memoized(corpus, ("nearDupIndex", textCol, idCol, k, nh,
        rowsPerBand, estimatedJaccard)) { mk(inline = false) }
    }

    /** Reopen a [[NearDupIndex.save]]d index in any session — params and
      * every stored frame come back exactly as saved (newest COMMITTED
      * version; an uncommitted dir from a crashed save is invisible), so
      * a restarted crawl pipeline resumes [[NearDupIndex.dedupBatch]]ing
      * with verdicts identical to the session that saved it. The loaded
      * frames are parquet-backed (durable, re-runnable scans) rather
      * than localCheckpoints; call [[NearDupIndex.compacted]] to pull a
      * hot index into executor memory after load if batch cadence
      * warrants it. A loaded handle's scans are pinned to its on-disk
      * version, which [[save]]'s vacuum keeps for only a two-version
      * grace window — compact (or re-load) any handle held across more
      * than two subsequent saves of the same path.
      */
    def load(spark: SparkSession, path: String): NearDupIndex = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the newest committed version plus — when it is a delta — the
      // committed chain down to its full base: each frame is the union
      // of that chain's slices (one multi-path parquet relation per
      // frame, not a union tree — partition math and pushdown behave
      // exactly as a single scan)
      // one directory listing resolves both the chain and the newest
      // version number (matters on object-store roots)
      val committed = ManifestLayout.versions(fs, root)
        .filter(_._2).map(_._1).sorted
      val chain = ManifestLayout.chainOf(fs, path, committed)
        .map(ManifestLayout.versionDir(path, _))
      require(chain.nonEmpty, s"no committed near-dup index at $path")
      val newest = chain.last
      val m = spark.read.parquet(s"$newest/meta").head()
      val est = m.getAs[Boolean]("estimated")
      def frame(name: String): DataFrame =
        spark.read.parquet(chain.map(d => s"$d/$name"): _*)
      val bandsDf = frame("bands")
      // band keys are LONGs from r14 (truncated-md5; lshBandKeys
      // scaladoc) — a pre-r14 layout's string keys would silently
      // type-coerce in every probe join; fail with the remedy instead
      require(bandsDf.schema("bkey").dataType ==
        org.apache.spark.sql.types.LongType,
        s"$path stores pre-r14 STRING band keys — rebuild the index " +
          "(NearDupIndex.build) to the long-key layout")
      val idx = NearDupIndex(
        m.getAs[String]("idCol"), m.getAs[Int]("k"),
        m.getAs[Int]("numHashes"), m.getAs[Int]("rowsPerBand"),
        bands = bandsDf,
        fingerprints = frame("fingerprints"),
        shingles = if (est) None else Some(frame("shingles")),
        counts = if (est) None else Some(frame("counts")),
        signatures = if (est) Some(frame("signatures")) else None)
      // a loaded handle can delta-save on top of the version it read —
      // and is DISK-BACKED: its write loop must follow save()'s
      // returned-handle contract (or compact first)
      idx.persistedBase = Some((path, committed.max))
      idx.diskBacked = true
      idx
    }
  }

  /** Leakage-safe train/val/test split: assign every document to a split by
    * the hash of its near-dup-cluster representative, so two near-duplicate
    * documents can never land in different splits (the classic eval-set
    * contamination bug when splitting by per-document hash). `pairs` is a
    * near-dup edge list (e.g. [[nearDuplicatePairs]] output); singleton
    * documents are their own representative. The cluster pass touches only
    * ids (the text column never shuffles), and the final assignment is the
    * same narrow deterministic-hash filter as
    * [[graft.sources.Ingest.hashSplit]] — rows gain a `rep` (representative
    * id) and `split` column.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      srcCol: String, dstCol: String, fractions: Seq[(String, Double)],
      seed: Long = 42L): DataFrame = {
    // __-prefix the cluster table's columns before joining: the input frame
    // may legitimately carry its own `node`/`cluster` columns
    val cc = connectedComponents(pairs, srcCol, dstCol)
      .select(col("node").as("__ccn"), col("cluster").as("__ccc"))
    val withRep = df.join(cc, df(idCol) === col("__ccn"), "left")
      .withColumn("rep", coalesce(col("__ccc"), df(idCol)))
      .drop("__ccn", "__ccc")
    graft.sources.Ingest.hashSplit(withRep, "rep", fractions, seed)
  }

  /** Transitive near-dedup with a keep-K policy: group documents into
    * near-dup clusters (MinHash→LSH→Jaccard pairs → connected components)
    * and keep the `maxCopies` lowest-id members of each cluster. maxCopies=1
    * is canonical one-representative dedup over the TRANSITIVE closure
    * (A~B~C drops both B and C even when A≁C directly — compare
    * [[dropNearDuplicates]], which applies the pair-wise policy); higher
    * values are the soft-dedup knob (cap, don't eliminate, duplicates).
    *
    * The rank window partitions by cluster id — cluster sizes are bounded by
    * the dup structure itself (and the component pass touches only ids), so
    * no partition outgrows a task even when the corpus does.
    */
  def capNearDuplicates(df: DataFrame, textCol: String, idCol: String,
      maxCopies: Int = 1, k: Int = 3, numHashes: Int = AutoNumHashes,
      rowsPerBand: Int = 2,
      threshold: Double = 0.7, estimatedJaccard: Boolean = false): DataFrame = {
    require(maxCopies > 0)
    val nh = resolveNumHashes(numHashes, estimatedJaccard)
    // components over representative pairs + one STAR edge per non-rep
    // member (rep → member): same transitive clusters as the expanded pair
    // graph — an exact group is a clique, and a star spans a clique — with
    // linearly many edges instead of quadratic intra-group pairs
    val (membership, repPairs) =
      if (estimatedJaccard)
        estNearDupCore(df, textCol, idCol, k, nh, rowsPerBand, threshold)
      else
        nearDupCore(df, textCol, idCol, k, nh, rowsPerBand, threshold)
    val starEdges = membership.filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id1"), col(idCol).as("id2"))
    val pairs = repPairs.select(col("id1"), col("id2")).union(starEdges)
    val cc = connectedComponents(pairs, "id1", "id2")
      .select(col("node").as("__ccn"), col("cluster").as("__ccc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cluster")).orderBy(col(idCol))
    df.join(cc, df(idCol) === col("__ccn"), "left")
      .withColumn("__cluster", coalesce(col("__ccc"), df(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxCopies)
      .drop("__ccn", "__ccc", "__cluster", "__rn")
  }

  // ---- cross-document repeated-substring (suffix) dedup ----
  //
  // Document-level near-dedup (MinHash/SimHash above) misses the other
  // duplication mode training corpora suffer from: the SAME PASSAGE pasted
  // into otherwise-distinct documents (boilerplate paragraphs, licenses,
  // quoted chunks). Lee et al. 2022 ("Deduplicating Training Data Makes
  // Language Models Better", arXiv:2107.06499) remove any ≥50-token
  // substring that appears more than once, built on a monolithic suffix
  // array. The distributed re-expression: a suffix array's duplicated
  // substrings of length ≥ k are exactly the k-token windows whose content
  // repeats, so sliding-window fingerprints + one hash-keyed groupBy find
  // the same spans with no global sort and no all-pairs work.

  /** Every k-token window of every document: (idCol, pos, gh) with `pos`
    * the 0-based start-token index and `gh` = [[hash60]] of the
    * space-joined window.
    *
    * Scale: the gram string exists only inside the projection — what
    * shuffles downstream is (id, pos, 60-bit hash), ~20 bytes per token
    * position, the same order as any inverted-index build. Documents
    * shorter than k tokens produce no windows.
    */
  def windowGrams(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"window length must be >= 2, got $k")
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .filter(size(col("__w")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("__w")) - k),
          i => concat_ws(" ", slice(col("__w"), i + 1, lit(k)))))
        .as(Seq("pos", "__gram")))
      // xxhash64, not hash60: gh never leaves the operator (downstream
      // consumers group/join on it and emit counts and rebuilt text), so
      // the only requirement is that equal grams hash equal and distinct
      // grams collide with negligible probability — the oracle replays the
      // pipeline with its own md5-based proxy and compares the
      // hash-independent results. xxhash64 runs as one codegen pass over
      // the gram bytes; the md5 path allocated the digest, a 32-char hex
      // string, a substring and a base-16 conv PER WINDOW (≈ one md5 per
      // corpus token, twice — both derivations of `g` pay it).
      .select(col(idCol), col("pos"), xxhash64(col("__gram")).as("gh"))
  }

  /** The previous [[duplicatedWindows]] gram cache. Each call unpersists
    * it BEFORE registering its own: repeated constructions (bench min-of-N
    * reps rebuild the query per rep) therefore always recompute from the
    * source — the cache never outlives one constructed query per session,
    * and memory holds at most one gram table. (Unpersisting first also
    * keeps the CacheManager from matching the new, canonically-identical
    * plan against the stale entry.)
    */
  private val lastGramCache =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** Window occurrences whose content appears in ≥ `minDocs` distinct
    * documents: (idCol, pos, gh, keeper) where `keeper` is the lowest doc
    * id containing that window (the occurrence that survives scrubbing).
    *
    * Plan: one hash-keyed partial+final aggregate over the window hashes
    * (uniform 60-bit keys — skew-free even when one passage repeats across
    * millions of docs, because the hot key collapses map-side), then an
    * equi-join back on `gh`. The corpus text never shuffles. The gram
    * projection is persisted per [[GraftConf.DedupGramPersist]].
    */
  def duplicatedWindows(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val g0 = windowGrams(df, textCol, idCol, k)
    // drop the previous construction's cache in BOTH modes: a recompute-mode
    // call must not be silently served by a stale registration either (the
    // CacheManager substitutes any canonically-identical plan)
    Option(lastGramCache.getAndSet(null))
      .foreach(_.unpersist(blocking = false))
    val g =
      if (!GraftConf.DedupGramPersist.get(df.sparkSession)) g0
      else {
        val cached = g0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        lastGramCache.set(cached)
        cached
      }
    // minDocs == 2 (the operator default, and the only threshold the Lee
    // et al. semantics need): "appears in >= 2 distinct docs" is exactly
    // min(id) != max(id), which aggregates in ONE exchange with plain
    // map-side combine — countDistinct plans a two-round aggregate
    // (expand on (gh, id), then re-shuffle) whose first exchange carries
    // every distinct (gh, id) pair. Same skew story (hot window hashes
    // still collapse map-side), half the exchanges, strictly equal
    // results: both classify a hash as duplicated iff its non-null doc
    // ids contain at least two distinct values, and keeper = min(id)
    // either way. minDocs > 2 keeps the countDistinct plan.
    val dup =
      if (minDocs == 2)
        g.groupBy(col("gh"))
          .agg(min(col(idCol)).as("keeper"), max(col(idCol)).as("__mx"))
          .filter(col("__mx") =!= col("keeper"))
          .select(col("gh"), col("keeper"))
      else
        g.groupBy(col("gh"))
          .agg(countDistinct(col(idCol)).as("__nd"), min(col(idCol)).as("keeper"))
          .filter(col("__nd") >= minDocs)
          .select(col("gh"), col("keeper"))
    g.join(dup, "gh").select(col(idCol), col("pos"), col("gh"), col("keeper"))
  }

  /** Per-document repeated-substring profile: token/window counts, how many
    * windows are cross-document duplicates, how many tokens those windows
    * cover (union of overlapping [pos, pos+k) spans), and the covered
    * fraction. `dup_fraction` = 1.0 flags an exact duplicate; intermediate
    * values measure boilerplate load — the corpus-health number a pipeline
    * gates on before training.
    *
    * The span union needs no interval-merge pass: spans all have length k,
    * so sorted by start, each one contributes min(next_start − start, k)
    * tokens (the last contributes k) — a single per-document window
    * function over id-partitioned dup positions.
    */
  def substringDupStats(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val base = df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      greatest(size(toks) - (k - 1), lit(0)).cast("long").as("n_windows"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val covered = duplicatedWindows(df, textCol, idCol, k, minDocs)
      .withColumn("__nxt", lead(col("pos"), 1).over(w))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("__ndw"),
        sum(when(col("__nxt").isNull, k)
          .otherwise(least(col("__nxt") - col("pos"), lit(k))))
          .cast("long").as("__cov"))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("n_windows"),
        coalesce(col("__ndw"), lit(0L)).as("n_dup_windows"),
        coalesce(col("__cov"), lit(0L)).as("covered_tokens"))
      .withColumn("dup_fraction",
        round(col("covered_tokens") / col("n_tokens"), 4))
  }

  /** Remove cross-document repeated substrings, keeping one occurrence
    * corpus-wide: for every duplicated window, occurrences outside the
    * keeper document (lowest id containing that content) are deleted, and
    * each document's surviving tokens are re-joined in order. Returns
    * (idCol, scrubbed, kept_tokens); fully-duplicated documents come back
    * as empty strings (kept_tokens = 0) for the caller to drop or keep.
    *
    * The k-fold position expansion runs only on DUPLICATED windows (the
    * minority the whole exercise exists to make rare), not the corpus; the
    * rebuild groups per document, so collect_list buffers one document's
    * tokens at a time — bounded by max doc length, not corpus size.
    * Intra-document repetition inside the keeper is preserved by design
    * (this operator dedups across documents; [[TextAnalysis.dupNgramFraction]]
    * measures within-document repetition).
    */
  def scrubRepeatedSubstrings(df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, minDocs: Int = 2): DataFrame = {
    // Per-doc REMOVAL-POSITION SETS, not removal rows: only duplicated
    // window starts shuffle (grouped by doc id), and the k-fold span
    // expansion happens inside the aggregated array. The corpus tokens
    // never shuffle at all — the rebuild below is a narrow per-row
    // transform over the split array, so the operator's exchange volume is
    // O(duplicated windows), not O(corpus tokens) as the previous
    // explode + anti-join + collect_list shape was.
    val rem = duplicatedWindows(df, textCol, idCol, k, minDocs)
      .filter(col(idCol) =!= col("keeper"))
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(transform(
        collect_set(col("pos")),
        p => sequence(p, p + (k - 1))))).as("__rm"))
    // array_except preserves first-argument order, so the surviving
    // positions stay in document order without a sort; element_at is O(1)
    // per token on the split array.
    val keptPos = array_except(
      sequence(lit(0), size(col("__w")) - 1),
      coalesce(col("__rm"), array().cast("array<int>")))
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__w"))
      .join(rem, Seq(idCol), "left")
      .withColumn("__kp", keptPos)
      .select(col(idCol),
        concat_ws(" ",
          transform(col("__kp"), p => element_at(col("__w"), p + 1)))
          .as("scrubbed"),
        size(col("__kp")).cast("long").as("kept_tokens"))
  }
}
