package perfbench

import graft.ProductWorkload
import graft.operators.VectorSearch
import graft.sources.ProductGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `search`: one op is a round — the four selectivity tiers, each an
  * `IvfIndex.search(q, 100, nprobe, Some(tier))` + collect, for one fresh
  * query vector. Set-up runs the recall-eval path (`topKMultiTiered` exact
  * scan + `searchMulti` per tier) over a seeded sample of the timed
  * rounds' queries before the warm-up, so that work also warms the JIT;
  * the check after the timed sequence compares the rounds' results with
  * that exact baseline.
  */
final class SearchWorkload(seed: Long, rounds: Int) extends Workload {
  import SearchWorkload._
  import Sizes._

  val name = "search"
  private val tiers = ProductWorkload.selPreds
  private var products: DataFrame = null
  private var ivf: VectorSearch.IvfIndex = null
  private val plan = Plan.searchRounds(seed, rounds, Rows)
  private val warm = Plan.searchRounds(seed ^ Plan.WarmSalt, WarmRounds, Rows)
  private val vecs = (plan ++ warm).map(r => r.queryId -> queryVec(r.queryId)).toMap
  /** result ids of each round's tiers, from the last pass */
  private val results = Array.fill(rounds, tiers.length)(Set.empty[String])
  /** rows × queries the exact scan scored (traced runs) */
  private var scoredRows = 0L
  // the recall baseline, computed in set-up
  private var sampled: List[Int] = Nil
  private var exact: Map[(Int, Int), Seq[(String, Double)]] = Map.empty
  private var baselineChecks: Seq[Check] = Nil

  def setup(spark: SparkSession, dir: String, tr: Tracer): Unit = {
    tr.span("sources.table_write") {
      ProductWorkload.writeIndexed(spark, Rows, Dims,
        Main.taskSlots, s"$dir/products")
    }
    products = spark.read.parquet(s"$dir/products")
    ivf = tr.span("vectorsearch.ivf_build") {
      VectorSearch.buildIvf(evalCols(products), "embedding", Cells,
        s"$dir/ivf", sampleFraction = SampleFraction,
        occupancyCols = Seq("main_category"))
    }
    baseline(spark, tr)
    warm.foreach(r => round(spark, r, tr, None))
  }

  private def round(spark: SparkSession, r: Plan.Round, tr: Tracer,
      keep: Option[(Int, Outcome)]): Boolean = {
    val q = vecs(r.queryId)
    r.tierOrder.forall { t =>
      val (tierName, pred) = tiers(t)
      val t0 = System.nanoTime()
      val ids = try {
        val rows = tr.span(s"vectorsearch.search.$tierName") {
          val df = tr.span("vectorsearch.search.plan") {
            ivf.search(spark, q, K, Nprobe, Some(pred))
          }
          tr.span("vectorsearch.search.exec")(df.select("parent_asin").collect())
        }
        Some(rows.map(_.getString(0)).toSet)
      } catch { case e: Exception =>
        System.err.println(s"search $tierName failed: $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      keep.foreach { case (i, out) =>
        ids.foreach(s => results(i)(t) = s)
        if (tierName == "read_sel_1") out.reads += (if (ids.isDefined) ms else Double.PositiveInfinity)
      }
      ids.isDefined
    }
  }

  def run(spark: SparkSession, tr: Tracer, pass: Int): Outcome = {
    val out = new Outcome
    val t0 = System.nanoTime()
    plan.zipWithIndex.foreach { case (r, i) =>
      tr.op = i
      val s = System.nanoTime()
      val ok = tr.span("op.search_round")(round(spark, r, tr, Some((i, out))))
      out.ops += (if (ok) (System.nanoTime() - s) / 1e6 else Double.PositiveInfinity)
      out.count("search_round", ok)
    }
    tr.op = -1
    out.wallS = (System.nanoTime() - t0) / 1e9
    out
  }

  /** The exact top-k of a seeded sample of the timed rounds' queries, and
    * the checks that need no timed result: `searchMulti` recall per tier
    * and `topKMultiTiered` against per-query `topK` on sampled pairs.
    */
  private def baseline(spark: SparkSession, tr: Tracer): Unit = {
    // recall is checked on a seeded sample of the timed rounds
    val rnd = new scala.util.Random(seed ^ 0x7e57L)
    sampled = rnd.shuffle(plan.indices.toList).take(RecallRounds).sorted
    val qs = sampled.map(i => vecs(plan(i).queryId))
    val cols = evalCols(products)
    val preds = tiers.map(_._2)
    // exact baseline of every sampled query and tier, in one scan
    exact =
      tr.span("vectorsearch.exact_tiered") {
        VectorSearch.topKMultiTiered(cols, "embedding", qs, K, "parent_asin", preds)
          .collect()
      }.groupBy(r => (r.getInt(0), r.getInt(1))).map { case (k, rs) =>
        k -> rs.map(r => (r.getString(4), r.getDouble(3))).toSeq
      }

    // the recall-eval path: one searchMulti per tier over the same batch
    val multi = tiers.indices.map { t =>
      val df = tr.span("vectorsearch.search_multi.plan") {
        ivf.searchMulti(spark, qs, K, Nprobe, "parent_asin", Some(preds(t)))
      }
      val got = tr.span("vectorsearch.search_multi.exec")(df.collect())
        .groupBy(_.getInt(0)).map { case (q, rs) => q -> rs.map(_.getString(3)).toSet }
      qs.indices.map(q => recallOf(got.getOrElse(q, Set.empty), exactIds(t, q))).sum /
        qs.length
    }

    // sampled (tier, query) pairs: the tiered scan equals per-query topK
    val pairs = Seq.fill(SampledPairs)((rnd.nextInt(tiers.length), rnd.nextInt(qs.length)))
    val bad = pairs.filterNot { case (t, q) =>
      val want = VectorSearch.topK(cols, "embedding", qs(q), K, Some(preds(t)),
        Seq("parent_asin")).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      sameTopK(exact.getOrElse((t, q), Nil), want)
    }
    if (tr.enabled)
      scoredRows = cols.filter(preds.reduce(_ || _)).count() * qs.length
    baselineChecks = Seq(tierCheck("searchMulti recall >= 0.9 per tier", multi),
      Check("topKMultiTiered == topK on sampled pairs", pairs.length, bad.length,
        bad.mkString(" ")))
  }

  private def exactIds(t: Int, q: Int) = exact.getOrElse((t, q), Nil).map(_._1).toSet

  private def tierCheck(name: String, perTier: Seq[Double]) = Check(name,
    tiers.length, perTier.count(_ < 0.9),
    tiers.map(_._1).zip(perTier).map { case (n, r) => f"$n=$r%.3f" }.mkString(" "))

  def check(spark: SparkSession, tr: Tracer): (Seq[Check], Double) = {
    val perTier = tiers.indices.map { t =>
      sampled.indices.map(q => recallOf(results(sampled(q))(t), exactIds(t, q))).sum /
        sampled.length
    }
    (tierCheck("search recall >= 0.9 per tier", perTier) +: baselineChecks, perTier.min)
  }

  def layers(attr: Attribution): Map[String, Double] = {
    val spans = attr.spans
    def named(n: String) = spans.filter(_.name == n)
    def med(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else Plan.median(ss.map(_.ms))
    val timed = spans.filter(_.op >= 0)
    def timedNamed(n: String) = timed.filter(_.name == n)
    val tierSpans = timed.filter(s => s.name.startsWith("vectorsearch.search.read_sel_"))
    val tierJobs = tierSpans.flatMap(attr.jobsUnder)
    val resultRows = results.map(_.map(_.size).sum).sum
    val exactSpan = named("vectorsearch.exact_tiered")
    val exactJobs = exactSpan.flatMap(attr.jobsUnder)
    val exactCpuS = exactJobs.map(_.cpuMs).sum / 1e3
    Map(
      "sources.table_write_ms" -> med(named("sources.table_write")),
      "vectorsearch.ivf_build_ms" -> med(named("vectorsearch.ivf_build")),
      "vectorsearch.search.plan_ms" -> med(timedNamed("vectorsearch.search.plan")),
      "vectorsearch.search.exec_ms" -> med(timedNamed("vectorsearch.search.exec")),
      "vectorsearch.search.jobs_per_query" -> tierJobs.length.toDouble / math.max(1, tierSpans.length),
      "vectorsearch.search.rows_read_per_result" ->
        tierJobs.map(_.inputRecords).sum.toDouble / math.max(1, resultRows),
      "vectorsearch.exact_tiered.exec_ms" -> med(exactSpan),
      "vectorsearch.exact_tiered.shuffle_mb" -> exactJobs.map(_.shuffleWriteBytes).sum / 1048576.0,
      "vectorsearch.search_multi.plan_ms" -> med(named("vectorsearch.search_multi.plan")),
      "vectorsearch.search_multi.exec_ms" -> med(named("vectorsearch.search_multi.exec")),
      "functions.scored_gflop_per_cpu_s" ->
        (if (exactCpuS > 0) 2.0 * scoredRows * Dims / 1e9 / exactCpuS else 0.0)
    ) ++ tiers.map { case (n, _) =>
      s"vectorsearch.search.${n}_ms" -> med(timedNamed(s"vectorsearch.search.$n"))
    }
  }

  def teardown(): Unit = ()
}

object SearchWorkload {
  val Cells = 16
  val Nprobe = 4
  val SampleFraction = 0.1
  /** a round takes about 0.5 s on a 4-core VM, so the timed rounds last about `--seconds` */
  val OpsPerSecond = 2.0
  val WarmRounds = 8
  val RecallRounds = 8
  val SampledPairs = 2

  def recallOf(got: Set[String], want: Set[String]): Double =
    if (want.isEmpty) 1.0 else (got intersect want).size.toDouble / want.size

  def queryVec(id: Long): Array[Float] =
    ProductGen.localRow(id, Sizes.Dims).getAs[Seq[Float]]("embedding").toArray

  def evalCols(products: DataFrame): DataFrame =
    products.select(col("parent_asin"), col("average_rating"),
      col("rating_number"), col("main_category"), col("embedding"))

  /** Two top-k lists agree when their scores agree and their ids agree
    * everywhere except among rows tied at the cut-off score.
    */
  def sameTopK(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean = {
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    a.length == b.length && a.map(_._2).sorted.zip(b.map(_._2).sorted).forall {
      case (x, y) => close(x, y)
    } && {
      val cut = if (a.isEmpty) 0.0 else a.map(_._2).min
      val above = (xs: Seq[(String, Double)]) =>
        xs.filterNot(x => close(x._2, cut)).map(_._1).toSet
      above(a) == above(b)
    }
  }
}
