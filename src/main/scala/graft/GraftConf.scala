package graft

import org.apache.spark.sql.SparkSession

/** The engine's tuning knobs, as `graft.*` session confs.
  *
  * Each knob is read on the driver at its decision point, from the session
  * the caller already holds (`spark.conf`; a streaming path reads its
  * stream's session), so two sessions of one JVM can run with different
  * values and an A/B is two conf values, not a mutation of process state.
  * Set one with `spark.conf.set(key, value)`, or for `Bench`/`Verify` runs
  * with `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"` (applied by [[GraftSession]]).
  * An unset key reads as its default, and every default is the production
  * value; the non-default settings named below are the test hooks that
  * force one of a decision's two paths on a small fixture.
  */
object GraftConf {

  /** One knob: its conf key, its default, and how a set value parses. */
  final class Entry[T] private[GraftConf] (val key: String, val default: T,
      parse: String => T) {
    /** The value in `spark`'s session conf, or [[default]] when unset.
      * A set value that does not parse fails with the key in the message.
      */
    def get(spark: SparkSession): T =
      spark.conf.getOption(key).map { v =>
        try parse(v.trim)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"$key: cannot parse '$v'", e)
        }
      }.getOrElse(default)
  }

  private def long(key: String, default: Long) =
    new Entry[Long](key, default, _.toLong)
  private def int(key: String, default: Int) =
    new Entry[Int](key, default, _.toInt)
  private def double(key: String, default: Double) =
    new Entry[Double](key, default, _.toDouble)
  private def bool(key: String, default: Boolean) =
    new Entry[Boolean](key, default, _.toBoolean)

  /** Near-dup inputs whose Catalyst-estimated size is at or below this
    * many bytes keep their single-consumer intermediates lazy (one fused
    * job) instead of checkpointing them; 0 forces the barrier path
    * everywhere. See `Dedup.interactive`.
    */
  val DedupInlineMaxBytes: Entry[Long] =
    long("graft.dedup.inlineMaxBytes", 64L << 20)

  /** `NearDupIndex.dedupBatch` broadcast-prune gate (r13): the pruned
    * plan streams each corpus-side frame once through a broadcast
    * semi-join instead of shuffling it into the batch joins, and engages
    * when the corpus band frame's Catalyst-estimated size (driver-side
    * stats, zero jobs) is at least this many bytes. Below it the classic
    * shuffle join is cheaper than the extra broadcast barriers, and the
    * small correctness fixtures keep bit-identical plans. Specs force
    * either plan with 0 / `Long.MaxValue`. The second gate, at most
    * `Dedup.dedupPruneMaxBatchKeys` batch band keys, is a constant.
    */
  val DedupPruneMinCorpusBytes: Entry[Long] =
    long("graft.dedup.pruneMinCorpusBytes", 256L << 20)

  /** Ceiling on the CANDIDATE corpus-id broadcast inside the pruned
    * `dedupBatch` plan (r14). Unlike the batch-key gate, the candidate-id
    * set is bounded by corpus-side band-key skew — one hot band key
    * (boilerplate text) can make it orders of magnitude larger than the
    * batch. The pruned path estimates the DISTINCT surviving corpus ids
    * over the eager checkpoint (approx_count_distinct ±2%, ×1.1 safety —
    * the id set is what pruneByIds broadcasts; counting band ROWS tripped
    * the fallback ~numBands× early, r14 ADVICE) and falls back to a
    * non-broadcast semi-join for the verify-stage pruning when they
    * exceed this — one corpus-frame shuffle instead of a driver OOM.
    * Same default scale as the batch-key cap; 0 forces the fallback.
    */
  val DedupPruneMaxCandIds: Entry[Long] =
    long("graft.dedup.pruneMaxCandIds", 2000000L)

  /** Fold cadence for `NearDupIndex.save`'s incremental checkpoints: a
    * save writes a DELTA version while the committed chain (full base +
    * deltas) is shorter than this, and folds back to a full version
    * otherwise — so checkpoint cost is ∝ batch at crawl cadence while
    * load-time union width and the vacuum keep-window stay bounded.
    * 1 disables deltas entirely (every save full — the r12 behavior).
    */
  val DedupMaxDeltaChain: Entry[Int] = int("graft.dedup.maxDeltaChain", 8)

  /** When true, `Dedup.duplicatedWindows` persists the narrow
    * (id, pos, gh) gram projection (MEMORY_AND_DISK_SER, ~20 B per token
    * position) so the corpus tokenize+posexplode+hash pass runs ONCE: the
    * frame feeds both the dup aggregate and the join probe side, and
    * without the persist the whole gram derivation executes twice per
    * query (recompute was the r17 shape; the r18 paired A/B at sf0.1 and
    * the 10× corpus measured persist 1.19–1.28× faster,
    * OPTIMIZATION_r18.md). The plan shape (map-side-combined aggregate +
    * broadcast join back, no gram shuffle) is unchanged, so the hot-key
    * skew story is untouched. `false` restores recompute — DedupSpec's
    * parity reference for the persisted shape.
    */
  val DedupGramPersist: Entry[Boolean] = bool("graft.dedup.gramPersist", true)

  /** Wall-aware read-cost term of the IVF exact-vs-probe switch (r14):
    * the probed path additionally loses when its per-FILE fixed costs
    * outweigh the extra rows the exact scan streams —
    *   plannedCells × files/cell × probeCellOverheadRows
    *     ≥ totalRows − plannedRows
    * — pricing each planned file at this many row-equivalents. Driver
    * arithmetic only: cellCounts and the cached relation's file census
    * are both resident.
    *
    * Calibration (BENCH_scale_idx2m_r14, the r13-verdict decomposition):
    * the r13 "probed 6.5 s vs exact 1.8 s" inversion on the thinnest 2M
    * tier was the FIRST-CALL cost (5.64 s of directory listing + pushed
    * count scan, memoized per handle; plan_warm 0.03 s) — at warm state
    * the probe won every tier (0.35–0.43 s vs exact 1.33–1.55 s, 163
    * planned cells on the ~1 file/cell exchange layout), and the sf1 r10
    * A/B bounds per-file overhead at ≲0.2 ms on bandwidth-bound layouts.
    * So this term exists for the regime BOTH those artifacts avoid: a
    * plan fanning out across many files each holding few rows (the
    * pre-exchange tasks×cells layouts — ~32 files/cell, where r12 probes
    * measured multi-second; or object stores, where a GET per file costs
    * 10–50 ms). 200 row-equivalents/file fires on a 131k-file 4096-cell
    * layout at ~1100 planned cells while leaving every measured
    * probe-wins point (sf1 12.8% tier, 2M thin tiers) on the probe path.
    * Scope guards: FILTERED plans only (an unfiltered `nprobe` is an
    * approximation contract, not a cost decision), and only while the
    * handle's switch is on (`IvfIndex.Tuning.exactScanFraction` > 0).
    * ≤ 0 disables.
    */
  val IvfProbeCellOverheadRows: Entry[Double] =
    double("graft.ivf.probeCellOverheadRows", 200.0)

  /** Estimated output-file count above which `buildIvf`'s partitioned
    * write EXCHANGES on the cluster id first (r13). The no-shuffle
    * layout (per-task sort → partitionBy) emits up to tasks × cells
    * files; below ~32k files it writes at device bandwidth (sf1:
    * 134 MB/s), but at 131k files (4096 cells × 32 tasks) the per-file
    * create/fsync overhead governs — 31 MB/s on two independent
    * same-shape r12 builds, the entire pessimistic half of the 10M
    * projection. One hash exchange on `__cluster` caps the count at
    * ~cells files (each cluster wholly inside one task) at the cost of
    * shuffling the payload once — the r2 measurement that rejected the
    * exchange was at 1 GB/1000 cells (= 32k files), where the direct
    * path is bandwidth-bound anyway and the shuffle is pure overhead;
    * this gate keeps exactly that regime on the direct path. Calibrated
    * by the r13 order-controlled write A/B (BENCH_assign_write_r13.json):
    * same 200k × 2688 table, k = 4096 — direct 108.7/105.5 s at 45,751
    * actual files vs exchange 50.3 s at 4,091 files (2.1×, identical
    * bytes). Actual files run ~⅓ of the tasks × cells estimate in both
    * measured shapes (46k/139k here, 32k/88k at sf1), so the gate is
    * expressed on the estimate: the exchange provably wins at ≥ 139k
    * estimated and the direct path is bandwidth-bound (exchange = pure
    * overhead) at ≤ 88k estimated (sf1, 134 MB/s) — 98304 sits between
    * the two measured regimes, keeping every committed sf1-and-below
    * artifact on the direct path and routing the 4096-cell builds
    * through the exchange. 0 / `Long.MaxValue` force either layout.
    */
  val IvfWriteExchangeMinFiles: Entry[Long] =
    long("graft.ivf.writeExchangeMinFiles", 98304L)

  /** Cell-count ceiling under which `buildIvf` folds the per-cell stats
    * (count / Σ__dist / max __dist) into the assign_write job itself as
    * conditional aggregates on an `Observation` — the post-write
    * listing + narrow rescan + collect job disappears. 3 agg expressions
    * per cell, so the ceiling bounds codegen size; above it the r15
    * distributed `__dist` scan runs unchanged (at 4096+ cells that scan
    * is seconds against a multi-minute build and 12k conditional aggs
    * would be the wrong trade). Values match the scan path by
    * construction: both aggregate the same `__dist` column the write
    * materializes (FP addition order differs — both orders are
    * partition-dependent already, and no oracled output depends on radii
    * beyond probe-plan ORDERING). 0 forces the scan path. See
    * `VectorSearch.statsObserveArmed` for the speculation exclusion.
    */
  val IvfStatsObserveMaxCells: Entry[Int] =
    int("graft.ivf.statsObserveMaxCells", 64)
}
