package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + table loaders for the graft engine.
  *
  * Local-mode defaults are sized for the driver's `local[32]` box; on a real
  * cluster the same settings scale by letting AQE coalesce/split shuffle
  * partitions at runtime.
  */
object GraftSession {

  /** Spark confs every graft session wants, local or cluster. */
  val defaults: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // adaptive.coalescePartitions.parallelismFirst stays at its true
    // default DELIBERATELY: an A/B (2026-08-14) measured
    // parallelismFirst=false + 16 MB advisory as a wash on the analytical
    // suite (stage-launch savings ≈ lost parallelism, within run noise)
    // while SEVERELY regressing the write/serving path — bucketed-store
    // init 41 s → 94 s (single-task coalesced writes) and the 200-QPS
    // tier p95 1.1 s → 16 s (fat coalesced tasks → multi-GB young-gen
    // allocation spikes → 1-5 s G1 evacuation pauses on the commit path).
    // events.parquet carries TIMESTAMP(NANOS); Spark reads it as long
    // (nanos since epoch) with this flag, and Tables.events converts.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the testdata's timestamp[us] columns carry no timezone tag; read them
    // as TimestampType (micros-since-epoch, session TZ = UTC) instead of
    // TIMESTAMP_NTZ so the engine's unix_micros/window arithmetic applies
    // and timestamp predicates still push into the parquet scan (a post-read
    // NTZ→TZ cast would block pushdown). Matches DuckDB's naive-timestamp
    // read of the same files.
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // nothing in the engine reads _SUCCESS markers, and the upsert path
    // commits a (tiny) job per micro-batch — one less file create + fsync
    // on every single-object commit's latency path
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
    // FAIR scheduling across pools (static conf — applies to sessions built
    // with these defaults, not via prepare()): the streaming commit path
    // runs 1–4-task jobs that must never queue behind a concurrent
    // reader's 100-task scan under FIFO — measured as multi-second commit
    // stalls exactly while a read was draining. Threads that opt into a
    // named pool (graft-commit / graft-read / graft-maintenance) get a
    // fair slot share; everything else lands in the default pool and
    // behaves as before (single-pool FAIR ≈ FIFO).
    "spark.scheduler.mode" -> "FAIR",
    "spark.ui.enabled" -> "false"
  )

  /** Dev/perf-iteration hook: semicolon-separated `k=v` Spark conf
    * overrides from SPARK_GRAFT_EXTRA_CONF, applied after [[defaults]] by
    * [[local]] and [[prepare]] (A/B-ing a conf without a rebuild).
    */
  private[graft] def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(_.split(';').toSeq
      .filter(_.contains('='))
      .map { kv =>
        val i = kv.indexOf('=')
        (kv.take(i).trim, kv.drop(i + 1).trim)
      })

  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    defaults.foreach { case (k, v) => b.config(k, v) }
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.registerAll(spark)
    spark
  }

  /** Apply graft defaults + function registration to an existing session
    * (e.g. the one the driver's Verify/Bench mains created).
    */
  def prepare(spark: SparkSession): SparkSession = {
    (defaults ++ extraConf).foreach { case (k, v) =>
      // legacy.parquet.nanosAsLong is a static conf — only settable at
      // session build; ignore failures for an already-built session.
      try spark.conf.set(k, v) catch { case _: Exception => () }
    }
    functions.registerAll(spark)
    spark
  }
}

/** Loaders for the driver's testdata star schema (TESTDATA.md). Each helper
  * also registers a temp view named after the table so oracle-equivalent SQL
  * can run through `spark.sql`.
  */
object Tables {

  /** Belt-and-suspenders for sessions built WITHOUT GraftSession.defaults
    * (where parquet TIMESTAMP_NTZ inference may be on): cast any NTZ column
    * to TimestampType — session TZ is UTC, so the cast is a reinterpretation
    * of the same micros. When the session conf already disabled NTZ
    * inference (the normal path) no column matches and the DataFrame is
    * returned untouched — no projection, pushdown intact.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.TimestampNTZType
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.toSet
    if (ntz.isEmpty) df
    else {
      // the NTZ→timestamp cast reinterprets the naive wall clock in the
      // SESSION timezone — value-preserving only under UTC. This branch
      // fires precisely for sessions built without GraftSession.defaults,
      // which may also lack timeZone=UTC, so pin it (runtime conf; UTC is
      // the engine's documented session contract — defaults set it too).
      // The override is global session state: apply it only when the
      // session isn't already UTC, and say so loudly — silently repointing
      // the timezone would change timestamp rendering/arithmetic for the
      // caller's unrelated queries.
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
      if (tz != "UTC") {
        System.err.println(s"[graft] Tables: session timeZone '$tz' -> " +
          "'UTC' (required for the NTZ timestamp normalization; build the " +
          "session with GraftSession.defaults to avoid this override)")
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
      }
      df.select(df.columns.toIndexedSeq.map(c =>
        if (ntz(c)) col(c).cast("timestamp").as(c) else col(c)): _*)
    }
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = normalizeNtz(spark.read.parquet(s"$dir/$name.parquet"))
    df.createOrReplaceTempView(name)
    df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events` carries parquet TIMESTAMP(NANOS). With
    * `spark.sql.legacy.parquet.nanosAsLong` the raw read yields a long; we
    * convert to a microsecond TimestampType column (truncating, like DuckDB
    * does when it casts ns → µs timestamps).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = s.read.parquet(s"$d/events.parquet")
    val df = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _ => normalizeNtz(raw)
    }
    df.createOrReplaceTempView("events")
    df
  }
}
