package perfbench

import scala.util.Random

/** The seeded, closed-loop op sequences and the sample statistics the
  * benchmark reports. Pure: no Spark, no clock — the self-tests pin it.
  */
object Plan {

  /** A search round: one fresh query vector (the product row of `queryId`,
    * an id outside the table) run against all four selectivity tiers, in
    * `tierOrder` (a permutation of the tier indexes).
    */
  final case class Round(queryId: Long, tierOrder: Seq[Int])

  sealed trait UpsertOp
  /** One commit of `keys` (no duplicates within a commit). */
  final case class Commit(keys: Seq[Long]) extends UpsertOp
  /** One prepared top-k read of the live store. */
  case object Read extends UpsertOp
  /** One bounded bucket fold of the live deltas. */
  case object Fold extends UpsertOp

  val Tiers = 4
  /** Warm-up sequences come from the run's seed xor this. */
  val WarmSalt = 0x3a11L

  /** Query ids are drawn from a window far above the table's ids, so a
    * query vector is never a table row.
    */
  def queryIdBase(tableRows: Long): Long = tableRows + 1000000000L

  def searchRounds(seed: Long, rounds: Int, tableRows: Long): Seq[Round] = {
    val rnd = new Random(seed)
    val base = queryIdBase(tableRows)
    Seq.fill(rounds) {
      Round(base + (rnd.nextLong() & 0xffffffffL),
        rnd.shuffle((0 until Tiers).toList))
    }
  }

  /** A fixed batch of fresh query ids (the recall-eval batch). */
  def queryBatch(seed: Long, size: Int, tableRows: Long): Seq[Long] = {
    val rnd = new Random(seed ^ 0x5deece66dL)
    val base = queryIdBase(tableRows)
    Seq.fill(size)(base + (rnd.nextLong() & 0xffffffffL))
  }

  /** The upsert sequence: `commits` commits of `batch` keys, half existing
    * table keys (distinct within a commit) and half new keys numbered from
    * `newKeyBase`; a [[Read]] after every `readEvery`-th commit; a [[Fold]]
    * once per `foldEvery` commits, mid-cycle (after commit foldEvery/2,
    * 3·foldEvery/2, …, after that commit's read), so reads follow it.
    */
  def upsertOps(seed: Long, commits: Int, batch: Int, tableRows: Long,
      newKeyBase: Long, readEvery: Int, foldEvery: Int): Seq[UpsertOp] = {
    require(batch >= 2 && batch % 2 == 0, "batch splits into existing/new")
    require(tableRows >= batch / 2, "table too small for the batch")
    val rnd = new Random(seed)
    var nextNew = newKeyBase
    (1 to commits).flatMap { c =>
      val existing = Iterator.continually(
        (rnd.nextLong() & Long.MaxValue) % tableRows).distinct.take(batch / 2).toSeq
      val fresh = (0 until batch / 2).map(_ => { nextNew += 1; nextNew })
      val keys = rnd.shuffle(existing ++ fresh)
      Seq(Commit(keys)) ++
        (if (c % readEvery == 0) Seq(Read) else Nil) ++
        (if (c % foldEvery == foldEvery / 2) Seq(Fold) else Nil)
    }
  }

  /** Sorted-rank index (0-based, ascending) of the highest percentile that
    * still has at least `beyond` samples above it, or None if `n` is too
    * small to have one.
    */
  def tailIndex(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= beyond) None else Some(n - 1 - beyond)

  /** The percentile (0–100) that [[tailIndex]] picks, nearest-rank. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    tailIndex(n, beyond).map(i => 100.0 * (i + 1) / n)

  /** Median (mean of the middle pair for even counts). A failed op enters
    * as +∞, so a median or tail past the failures reads as ∞.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Double] =
    tailIndex(xs.length, beyond).map(i => xs.sorted.apply(i))
}
