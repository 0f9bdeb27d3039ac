package perfbench

import org.scalatest.funsuite.AnyFunSuite

class PlanSpec extends AnyFunSuite {

  test("tail rank keeps at least ten samples beyond it") {
    assert(Plan.tailIndex(10).isEmpty)
    assert(Plan.tailIndex(11).contains(0))
    for (n <- 11 to 500) {
      val i = Plan.tailIndex(n).get
      assert(n - 1 - i == 10, s"n=$n")
    }
    assert(Plan.tailPercentile(60).contains(100.0 * 50 / 60))
    val xs = (1 to 40).map(_.toDouble)
    assert(Plan.tail(xs).contains(30.0))
    assert(xs.count(_ > Plan.tail(xs).get) == 10)
  }

  test("a failed op counts as an infinite latency") {
    val xs = Seq.fill(20)(5.0) ++ Seq.fill(11)(Double.PositiveInfinity)
    assert(Plan.tail(xs).contains(Double.PositiveInfinity))
    assert(Plan.median(Seq(1.0, Double.PositiveInfinity)).isInfinite)
    assert(Plan.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("one seed gives identical op sequences, two seeds different ones") {
    assert(Plan.searchRounds(7, 30, 10000) == Plan.searchRounds(7, 30, 10000))
    assert(Plan.searchRounds(7, 30, 10000) != Plan.searchRounds(8, 30, 10000))
    def ups(seed: Long) = Plan.upsertOps(seed, 32, 20, 10000, 1L << 32, 1, 32)
    assert(ups(7) == ups(7))
    assert(ups(7) != ups(8))
    assert(Plan.queryBatch(7, 8, 10000) == Plan.queryBatch(7, 8, 10000))
    assert(Plan.queryBatch(7, 8, 10000) != Plan.queryBatch(8, 8, 10000))
  }

  test("a search round runs each of the four tiers once, for a query outside the table") {
    val rounds = Plan.searchRounds(3, 200, 10000)
    rounds.foreach { r =>
      assert(r.tierOrder.sorted == (0 until Plan.Tiers))
      assert(r.queryId >= Plan.queryIdBase(10000))
    }
    // the order is seeded per round, not fixed
    assert(rounds.map(_.tierOrder).distinct.size > 1)
  }

  test("upsert commits: half existing keys, half new, distinct; reads and folds on cadence") {
    val base = 1L << 32
    val ops = Plan.upsertOps(11, 64, 20, 10000, base, 2, 32)
    val commits = ops.collect { case c: Plan.Commit => c }
    assert(commits.length == 64)
    commits.foreach { c =>
      assert(c.keys.distinct.length == 20)
      assert(c.keys.count(_ < 10000) == 10)
      assert(c.keys.count(_ > base) == 10)
    }
    assert(ops.count(_ == Plan.Read) == 32)
    // one fold per 32 commits, mid-cycle, after that commit's read
    val folds = ops.zipWithIndex.collect { case (Plan.Fold, i) => i }
    assert(folds.map(i => ops.take(i).count(_.isInstanceOf[Plan.Commit])) == Seq(16, 48))
    folds.foreach(i => assert(ops(i - 1) == Plan.Read))
    // new keys never repeat across commits
    val fresh = commits.flatMap(_.keys.filter(_ > base))
    assert(fresh.distinct.length == fresh.length)
  }

  test("attribution: self time, driver-only time and job ownership") {
    val ms = 1000000L
    val op = Span(1, "op.x", 0, 100 * ms, 0)
    val a = Span(2, "layer.a", 10 * ms, 40 * ms, 0)
    val b = Span(3, "layer.b", 50 * ms, 90 * ms, 0)
    val j1 = JobRec(1, 20 * ms, 30 * ms, 2, 0, 5, 0, 0, 0, 0, 0, 0)
    // a job from another thread, charged by time to the innermost span
    val j2 = JobRec(2, 60 * ms, 80 * ms, -1, 0, 7, 0, 0, 0, 0, 0, 0)
    val attr = new Attribution(Seq(op, a, b), Seq(j1, j2))
    assert(attr.parent == Map(2 -> 1, 3 -> 1))
    assert(attr.jobsUnder(op).map(_.id) == Seq(1, 2))
    assert(attr.jobsUnder(b).map(_.id) == Seq(2))
    assert(math.abs(attr.unattributedMs(op) - 30.0) < 1e-9)
    assert(math.abs(attr.driverOnlyMs(op) - 70.0) < 1e-9)
  }
}
