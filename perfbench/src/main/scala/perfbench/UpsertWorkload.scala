package perfbench

import graft.ProductWorkload
import graft.operators.VectorSearch
import graft.sources.ProductGen
import graft.streaming.{BucketedStore, UpsertStream}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `upsert`: commits of B single-object upserts (half existing keys, half
  * new) through `UpsertStream.runDelta` configured as graft.Bench runs it
  * (driver-local re-embedding via `ProductGen.localRow`, inline L0
  * consolidation, no fold on the commit path), interleaved with
  * `PreparedTopK.read()` on tier read_sel_1 after every commit and a
  * bounded `store.compact(maxBuckets = 8)` once per 32 commits, mid-cycle
  * right after an L0 consolidation.
  */
final class UpsertWorkload(seed: Long, commits: Int) extends Workload {
  import Sizes._
  import UpsertWorkload._

  val name = "upsert"
  private val readPred = ProductWorkload.selPreds.find(_._1 == "read_sel_1").get._2
  private val queryVec = SearchWorkload.queryVec(Plan.queryBatch(seed, 1, Rows).head)
  private var dir: String = null
  private var store: BucketedStore = null
  private var mem: MemoryStream[Long] = null
  private var query: StreamingQuery = null
  private var prepared: BucketedStore#PreparedTopK = _
  @volatile private var visibleNs = 0L
  @volatile private var visibleKeys: Set[String] = Set.empty
  @volatile private var tracer: Tracer = null
  private val committed = scala.collection.mutable.LinkedHashSet[Long]()
  // traced-pass observations
  private val readDeltas = scala.collection.mutable.ArrayBuffer[Int]()
  private val reprimeMs = scala.collection.mutable.ArrayBuffer[Double]()
  private var fast0 = 0L
  private var reads = 0
  private var bytesWritten = 0L
  private var objects = 0L
  private var sampleChecks = Vector.empty[Check]
  private var readRecall = 1.0

  private def key(id: Long) = "B%09d".format(id)

  def setup(spark: SparkSession, d: String, tr: Tracer): Unit = {
    dir = d
    tracer = tr
    store = new BucketedStore(s"$dir/store", nBuckets = Buckets)
    tr.span("streaming.store_init") {
      val cpus = Main.taskSlots
      val baseCols = ProductGen.baseColumns(spark.range(0, Rows, 1, cpus).toDF("id"))
      val bucketed = baseCols.repartition(store.nBuckets, store.bucketExpr("parent_asin"))
      val full = ProductGen.withDerived(bucketed, Dims)
        .select(ProductGen.schema(Dims).fieldNames.map(col).toIndexedSeq: _*)
      store.initialize(full, "parent_asin", preBucketed = true)
    }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    mem = MemoryStream[Long]
    val embed: Seq[Row] => Seq[Row] = rows => {
      val t0 = System.nanoTime()
      val out = rows.map(r => ProductGen.localRow(r.getLong(0), Dims))
      val t = tracer
      if (t != null) t.record("sources.reembed", t0, System.nanoTime())
      out
    }
    query = UpsertStream.runDelta(mem.toDF().withColumnRenamed("value", "id"),
      store, "parent_asin", s"$dir/checkpoint", trigger = Trigger.ProcessingTime(0),
      compactEvery = Int.MaxValue, consolidateEvery = ConsolidateEvery,
      localMap = Some((embed, ProductGen.schema(Dims))),
      onCommit = (_, rows) => {
        visibleKeys = rows.map(_.getAs[String]("parent_asin")).toSet
        visibleNs = System.nanoTime()
      })
    prepared = store.prepareTopK(spark, "embedding", queryVec, K, Some(readPred),
      projection = Seq("parent_asin"))
    val warm = Plan.upsertOps(seed ^ Plan.WarmSalt, WarmCommits, Batch, Rows,
      newKeyBase(-1), ReadEvery, 2 * WarmCommits) :+ Plan.Read
    execute(spark, warm, tr, None)
  }

  private def newKeyBase(pass: Int): Long = 4000000000L + (pass + 1) * 100000000L

  /** Runs `ops`; with an outcome, records latencies and checks sampled
    * reads against the exact merged-store top-k (check time excluded from
    * the wall).
    */
  private def execute(spark: SparkSession, ops: Seq[Plan.UpsertOp], tr: Tracer,
      out: Option[Outcome]): Double = {
    var paused = 0L
    var afterFold = false
    var commitNo = 0
    var readNo = 0
    val sampled = new scala.util.Random(seed ^ 0xc4ecL)
      .shuffle((0 until commits / ReadEvery).toList).take(SampledReads).toSet
    val t0 = System.nanoTime()
    ops.foreach {
      case Plan.Commit(keys) =>
        if (out.isDefined) tr.op = commitNo
        visibleNs = 0L
        val s = System.nanoTime()
        val ok = try {
          mem.addData(keys: _*)
          query.processAllAvailable()
          visibleNs > 0 && keys.map(key).toSet == visibleKeys
        } catch { case e: Exception => System.err.println(s"commit failed: $e"); false }
        val e = System.nanoTime()
        // measured here, not with tr.span: the op's parts end on the stream's
        // thread (onCommit), so all three spans share these timestamps
        tr.record("op.commit", s, e)
        if (ok) {
          tr.record("streaming.commit.visible", s, visibleNs)
          tr.record("streaming.commit.after", visibleNs, e)
        }
        out.foreach { o =>
          o.ops += (if (ok) (visibleNs - s) / 1e6 else Double.PositiveInfinity)
          o.count("commit", ok)
          if (ok) committed ++= keys
        }
        commitNo += 1
      case Plan.Read =>
        if (tr.enabled && out.isDefined) readDeltas += store.liveDeltaCount
        val s = System.nanoTime()
        val got = try Some(tr.span("op.read")(prepared.read()))
          catch { case e: Exception => System.err.println(s"read failed: $e"); None }
        val ms = (System.nanoTime() - s) / 1e6
        out.foreach { o =>
          o.reads += got.fold(Double.PositiveInfinity)(_ => ms)
          o.count("read", got.isDefined)
          if (afterFold && tr.enabled) reprimeMs += ms
          if (sampled(readNo) && got.isDefined) {
            val c0 = System.nanoTime()
            checkRead(spark, got.get, readNo)
            paused += System.nanoTime() - c0
          }
          readNo += 1
        }
        afterFold = false
      case Plan.Fold =>
        val ok = try { tr.span("op.fold")(store.compact(spark, "parent_asin", maxBuckets = FoldBuckets)); true }
          catch { case e: Exception => System.err.println(s"fold failed: $e"); false }
        out.foreach(_.count("fold", ok))
        afterFold = true
    }
    tr.op = -1
    (System.nanoTime() - t0 - paused) / 1e9
  }

  private def checkRead(spark: SparkSession, got: Array[Row], readNo: Int): Unit = {
    val want = VectorSearch.topK(store.read(spark), "embedding", queryVec, K,
      Some(readPred), Seq("parent_asin")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val have = got.map(r => (r.getString(0), r.getDouble(1))).toSeq
    val ok = SearchWorkload.sameTopK(have, want)
    val wantIds = want.map(_._1).toSet
    if (wantIds.nonEmpty)
      readRecall = math.min(readRecall,
        (have.map(_._1).toSet intersect wantIds).size.toDouble / wantIds.size)
    sampleChecks :+= Check("prepared read == topK(store.read)", 1, if (ok) 0 else 1,
      if (ok) "" else s"read $readNo")
  }

  private def storeBytes(): Long = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/store"))
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }

  def run(spark: SparkSession, tr: Tracer, pass: Int): Outcome = {
    val out = new Outcome
    val ops = Plan.upsertOps(seed, commits, Batch, Rows, newKeyBase(pass),
      ReadEvery, FoldEvery)
    val bytes0 = if (tr.enabled) storeBytes() else 0L
    fast0 = prepared.fastReadCount
    val r0 = prepared.fastReadCount + prepared.fallbackReadCount
    out.wallS = execute(spark, ops, tr, Some(out))
    reads = (prepared.fastReadCount + prepared.fallbackReadCount - r0).toInt
    if (tr.enabled) {
      bytesWritten = storeBytes() - bytes0
      objects = commits.toLong * Batch
    }
    out
  }

  def check(spark: SparkSession, tr: Tracer): (Seq[Check], Double) = {
    // every committed key reads back its re-embedded row
    val ids = committed.toSeq
    val byKey = store.read(spark).filter(col("parent_asin").isin(ids.map(key): _*))
      .collect().map(r => r.getAs[String]("parent_asin") -> r).toMap
    val bad = ids.filterNot(id => byKey.get(key(id)).exists(sameRow(_, ProductGen.localRow(id, Dims))))
    val readBack = Check("committed keys read back re-embedded", ids.length,
      bad.length, bad.take(5).mkString(" "))
    // and a seeded sample of them through the point-lookup path
    val rnd = new scala.util.Random(seed ^ 0x10c0L)
    val sample = rnd.shuffle(ids).take(SampledLookups)
    val badLookups = sample.filterNot { id =>
      val rows = store.lookup(spark, key(id)).collect()
      rows.length == 1 && sameRow(rows.head, ProductGen.localRow(id, Dims))
    }
    val lookups = Check("store.lookup of sampled keys", sample.length,
      badLookups.length, badLookups.mkString(" "))
    val readCheck = Check("prepared read == topK(store.read)",
      sampleChecks.map(_.attempted).sum, sampleChecks.map(_.failed).sum,
      sampleChecks.map(_.detail).filter(_.nonEmpty).mkString(" "))
    (Seq(readBack, lookups, readCheck), readRecall)
  }

  private def sameRow(a: Row, b: Row): Boolean =
    ProductGen.schema(Dims).fieldNames.forall { f =>
      val (x, y) = (a.getAs[Any](f), b.getAs[Any](f))
      (x, y) match {
        case (p: scala.collection.Seq[_], q: scala.collection.Seq[_]) => p.toSeq == q.toSeq
        case _ => x == y
      }
    }

  def layers(attr: Attribution): Map[String, Double] = {
    val spans = attr.spans
    def named(n: String) = spans.filter(_.name == n)
    def med(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else Plan.median(ss.map(_.ms))
    val commitsS = named("op.commit").filter(_.op >= 0)
    val readsS = named("op.read").filter(_.op >= 0)
    val reembed = named("sources.reembed").filter(_.op >= 0)
    Map(
      "streaming.store_init_ms" -> med(named("streaming.store_init")),
      "sources.reembed_ms" -> med(reembed),
      "streaming.commit.visible_ms" -> med(named("streaming.commit.visible")),
      "streaming.commit.after_ms" -> med(named("streaming.commit.after")),
      "streaming.commit.jobs_per_commit" ->
        commitsS.map(attr.jobsUnder(_).length).sum.toDouble / math.max(1, commitsS.length),
      "streaming.read.fast_frac" ->
        (prepared.fastReadCount - fast0).toDouble / math.max(1, reads),
      "streaming.read.live_deltas" ->
        (if (readDeltas.isEmpty) 0.0 else readDeltas.sum.toDouble / readDeltas.length),
      "streaming.read.jobs_per_read" ->
        readsS.map(attr.jobsUnder(_).length).sum.toDouble / math.max(1, readsS.length),
      "streaming.read.reprime_ms" -> (if (reprimeMs.isEmpty) 0.0 else Plan.median(reprimeMs.toSeq)),
      "streaming.fold_ms" -> med(named("op.fold").filter(_.op >= 0)),
      "streaming.write_amplification" ->
        (if (objects > 0) bytesWritten.toDouble / (objects * 4L * Dims) else 0.0))
  }

  def teardown(): Unit = {
    tracer = null
    if (query != null) { query.stop(); query = null }
  }
}

object UpsertWorkload {
  /** a commit, its read and a share of the fold take about 0.7 s on a 4-core VM */
  val OpsPerSecond = 4.0 / 3
  val Buckets = 64
  val Batch = 20
  val ReadEvery = 1
  val FoldEvery = 32
  val FoldBuckets = 8
  val ConsolidateEvery = 8
  val WarmCommits = 8
  val SampledReads = 2
  val SampledLookups = 2
}
