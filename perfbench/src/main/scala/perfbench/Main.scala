package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload search|upsert --seed n --seconds s
  * --trace 0|1 --data dir`. Prints a human-readable report, then the
  * result as one JSON line prefixed `PERFBENCH_RESULT ` (run.py prints it
  * last). Exits 1 when an op failed or an output check disagreed.
  */
object Main {
  /** A workload's timed op count is its `OpsPerSecond` times `--seconds`:
    * fixed, so its tail percentile does not move with the program's speed.
    * At least 24 ops keeps the tail (≥ 10 samples beyond it) above p50.
    */
  val MinOps = 24

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, data: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--data"))
  }

  def workload(a: Args): Workload = {
    def ops(perSecond: Double) = math.max(MinOps, (a.seconds * perSecond).round.toInt)
    a.workload match {
      case "search" => new SearchWorkload(a.seed, ops(SearchWorkload.OpsPerSecond))
      case "upsert" => new UpsertWorkload(a.seed, ops(UpsertWorkload.OpsPerSecond))
      case w => sys.error(s"unknown workload $w (search|upsert)")
    }
  }

  /** Task slots: half the cores. The rest stay free for the driver thread
    * (most of a search round), the JIT and GC, so a job does not wait on a
    * task that shares its core with them or with a neighbour's load.
    */
  def taskSlots: Int = math.max(1, Runtime.getRuntime.availableProcessors() / 2)

  def newSession(dir: String): SparkSession = {
    val cpus = taskSlots
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
    GraftSession.defaults.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(s)
  }

  /** The end-to-end metrics of one pass, (name, value, unit, samples). */
  def e2e(out: Outcome): Seq[(String, Double, String, Int)] = Seq(
    ("op_p50_ms", Plan.median(out.ops.toSeq), "ms", out.ops.length),
    ("op_tail_ms", Plan.tail(out.ops.toSeq).get, "ms", out.ops.length),
    ("ops_per_s", out.ops.length / out.wallS, "1/s", out.ops.length),
    ("read_p50_ms", Plan.median(out.reads.toSeq), "ms", out.reads.length))

  def main(argv: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val a = parse(argv)
    val w = workload(a)
    val tr = new Tracer(a.trace)
    // set-up: main entry to the first timed op
    val spark = newSession(a.data)
    // trace runs charge jobs to spans from set-up on (set-up runs the
    // recall-eval path)
    if (a.trace) tr.attach(spark.sparkContext)
    w.setup(spark, a.data, tr)
    val setupS = (System.nanoTime() - tMain) / 1e9
    val setupSpans = tr.all
    tr.clear()

    // the untraced pass: every end-to-end number comes from here
    tr.enabled = false
    val window = new Env.Window
    val out = w.run(spark, tr, pass = 0)
    val env = Env.record(spark.sparkContext.master, a.data, window)
    val untraced = e2e(out)

    // traced pass (trace runs only): same seeded sequence, ledger attached
    val traced = if (!a.trace) None else {
      tr.enabled = true
      val gc0 = Env.gcMs()
      val tout = w.run(spark, tr, pass = 1)
      Some((tout, Env.gcMs() - gc0))
    }
    val tCheck = System.nanoTime()
    val (checks, recall) = w.check(spark, tr)
    val jobs = tr.detach()
    val heapMb = Env.retainedHeapMb(spark.sparkContext)
    val checkS = (System.nanoTime() - tCheck) / 1e9

    val attempted = out.attempted.values.sum + traced.map(_._1.attempted.values.sum).getOrElse(0)
    val failedOps = out.failed.values.sum + traced.map(_._1.failed.values.sum).getOrElse(0)
    val correct = failedOps == 0 && checks.forall(_.failed == 0)

    println(s"perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0}")
    out.attempted.foreach { case (k, n) =>
      println(s"op $k: attempted=$n failed=${out.failed.getOrElse(k, 0)}")
    }
    checks.foreach { c =>
      println(s"check ${c.name}: attempted=${c.attempted} failed=${c.failed} ${c.detail}".trim)
    }
    println(f"phases: setup $setupS%.1f s, timed pass ${out.wallS}%.1f s, checks $checkS%.1f s; " +
      f"op_tail_ms is p${Plan.tailPercentile(out.ops.length).get}%.1f")
    println(s"op_ms in order: ${out.ops.map(x => f"$x%.0f").mkString(" ")}")
    println(s"read_ms in order: ${out.reads.map(x => f"$x%.0f").mkString(" ")}")
    println("env " + Json.obj(env.map { case (k, v) => k -> Json.value(v) }))

    val metrics: Seq[(String, Double, String)] = traced match {
      case None =>
        val all = Seq(("setup_s", setupS, "s", 1)) ++
          untraced :+ (("recall", recall, "ratio", 1))
        all.foreach { case (n, v, u, c) => println(f"metric $n%-18s $v%12.4f $u%-5s n=$c") }
        all.map { case (n, v, u, _) => (n, v, u) }
      case Some((tout, gcMs)) =>
        e2e(tout).zip(untraced).foreach { case ((n, t, u, _), (_, v, _, _)) =>
          println(f"trace_overhead $n%-18s ${t - v}%+12.4f $u (traced $t%.4f, untraced $v%.4f)")
        }
        val attr = new Attribution(setupSpans ++ tr.all, jobs)
        println(s"ledger jobs=${jobs.length} charged_to_spans=${attr.charged} spans=${attr.spans.length}")
        val layer = Layers.all ++ w.layers(attr) ++
          Layers.runtime(attr, tout, gcMs) + ("jvm.retained_heap_mb" -> heapMb)
        Layers.unmeasured.foreach { case (n, why) => println(s"not measured: $n — $why") }
        val rows = Layers.units.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
        rows.foreach { case (n, v, u) => println(f"layer $n%-44s $v%14.4f $u") }
        rows
    }
    val json = Json.obj(Seq(
      "correct" -> Json.value(correct),
      "attempted" -> Json.value(attempted),
      "failed" -> Json.value(failedOps),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.value(v), "unit" -> Json.value(u)))
      })))
    w.teardown()
    spark.stop()
    println("PERFBENCH_RESULT " + json)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Just enough JSON for the result line and the environment record. */
object Json {
  def value(v: Any): String = v match {
    case b: Boolean => b.toString
    case d: Double =>
      // a failed op is an infinite latency; JSON has no infinity
      if (d.isNaN) "0" else if (d.isInfinite) "1e12" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => value(k) + ": " + v }.mkString("{", ", ", "}")
}
