package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.{Column, SparkSession}

/** Bridges graft code to Spark-internal (`private[sql]`) APIs.
  *
  * Spark 4 moved `Column` to a backend-agnostic representation; building a
  * `Column` from a Catalyst [[Expression]] (needed for our custom codegen
  * expressions) goes through `classic.ExpressionUtils`, which is
  * `private[sql]` — hence this shim lives under `org.apache.spark.sql`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A caching key for a predicate Column that is stable across calls
    * AND type-faithful. `Column.toString` renders the node tree without
    * literal types — `lit(1)` and `lit("1")` print identically — so the
    * textual form alone could alias two different predicates under one
    * cache entry; the appended literal class/type tags (collected in
    * tree order) disambiguate. Converting to a Catalyst expression
    * instead would embed `Origin` stack traces, which differ per call.
    */
  def stableKey(c: Column): String = {
    import org.apache.spark.sql.internal.{Literal => NodeLit}
    val litTags = c.node.collect { case l: NodeLit =>
      val cls = if (l.value == null) "null" else l.value.getClass.getName
      cls + ":" + l.dataType.map(_.sql).getOrElse("_")
    }
    c.toString + "#" + litTags.mkString(",")
  }

  /** [[stableKey]] when that key pins `c`'s meaning: every node is an
    * attribute, a literal, a cast, an alias, a CASE or a built-in
    * function the session has not shadowed with a temp function, so the
    * text plus the literal types fix the predicate. None for whatever the
    * text cannot tell apart — a user-defined function (two anonymous UDFs
    * over one column render alike), SQL text, a wrapped Catalyst
    * expression, a subquery, a lambda — which must never be served from
    * another predicate's cache entry.
    */
  def reusableKey(spark: SparkSession, c: Column): Option[String] = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.internal.{Alias, CaseWhenOtherwise, Cast,
      ColumnNodeLike, Literal, UnresolvedAttribute, UnresolvedFunction}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    def builtin(name: String): Boolean =
      FunctionRegistry.builtinOperators.contains(
        name.toLowerCase(java.util.Locale.ROOT)) || {
        val id = FunctionIdentifier(name)
        (FunctionRegistry.builtin.lookupFunctionBuilder(id),
          session.lookupFunctionBuilder(id)) match {
          case (Some(b), Some(s)) => b eq s
          case _ => false
        }
      }
    val opaque = c.node.collect {
      case _: Literal | _: UnresolvedAttribute | _: Cast | _: Alias |
          _: CaseWhenOtherwise => false
      case f: UnresolvedFunction =>
        f.isUserDefinedFunction || f.isInternal || !builtin(f.functionName)
      case _: ColumnNodeLike => true
    }
    if (opaque.contains(true)) None else Some(stableKey(c))
  }

  /** Whether one analysis of `df` may serve many executions: it is
    * deterministic, and it holds no current time, date, user or database
    * — values the optimizer folds once per execution.
    */
  def reusablePlan(df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = df.queryExecution.analyzed
    p.deterministic && !p.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE)
  }

  /** When `c` is an equality or IN between ONE unresolved attribute and
    * literal value(s) — the shapes `col(x) === v` and `col(x).isin(vs)`
    * build — returns (attribute name, literal values rendered as strings).
    * None for every other predicate shape. Matched on the Column's
    * backend-agnostic node tree WITHOUT forcing analysis; lives here
    * because Spark 4's `ColumnNode` classes are `private[sql]`. Used by
    * the IVF occupancy fast path (probe planning from a driver-side
    * categorical count table).
    */
  def equalityOrIn(c: Column): Option[(String, Seq[String])] =
    equalityOrInTyped(c).map { case (n, vs) => (n, vs.map(_.toString)) }

  /** [[equalityOrIn]], but the literal values come back with their JVM
    * types intact (never null). Callers that compare the rendered value
    * against stored data — the IVF occupancy fast path — must gate on the
    * literal's type matching the stored column's: `toString` rendering is
    * type-blind (`lit(1)`, `lit(1L)` and `lit("1")` all render "1", and
    * `lit(1.0)` renders "1.0" while an int column's cast-to-string of the
    * SAME matching rows renders "1"), whereas Spark's own filter applies
    * type-coerced equality — so a cross-type lookup can silently disagree
    * with the filter the plan actually runs.
    */
  def equalityOrInTyped(c: Column): Option[(String, Seq[Any])] = {
    import org.apache.spark.sql.internal.{ColumnNode, Literal, UnresolvedAttribute, UnresolvedFunction}
    def attrName(n: ColumnNode): Option[String] = n match {
      case a: UnresolvedAttribute => Some(a.nameParts.mkString("."))
      case _ => None
    }
    def litVal(n: ColumnNode): Option[Any] = n match {
      case l: Literal if l.value != null => Some(l.value)
      case _ => None
    }
    c.node match {
      case fn: UnresolvedFunction
          if fn.functionName == "=" && fn.arguments.length == 2 =>
        val Seq(x, y) = fn.arguments
        (for { n <- attrName(x); v <- litVal(y) } yield (n, Seq(v)))
          .orElse(for { n <- attrName(y); v <- litVal(x) } yield (n, Seq(v)))
      case fn: UnresolvedFunction
          if fn.functionName == "in" && fn.arguments.length >= 2 =>
        val vals = fn.arguments.tail.map(litVal)
        attrName(fn.arguments.head)
          .filter(_ => vals.forall(_.isDefined))
          .map(n => (n, vals.flatten.toSeq))
      case _ => None
    }
  }

  /** Flatten a top-level conjunction (`a && b && ...`) into its
    * conjuncts; a non-AND predicate comes back as `Seq(c)`. Matched on
    * the backend-agnostic node tree without forcing analysis (the `and`
    * function node `Column.&&` builds). Used by the IVF probe planner to
    * find a registered-categorical conjunct whose occupancy candidate
    * cells can partition-prune the residual count scan.
    */
  def conjuncts(c: Column): Seq[Column] = {
    import org.apache.spark.sql.internal.UnresolvedFunction
    c.node match {
      case fn: UnresolvedFunction
          if fn.functionName == "and" && fn.arguments.length == 2 =>
        fn.arguments.flatMap(a => conjuncts(Column(a)))
      case _ => Seq(c)
    }
  }

  /** A DataFrame over driver-held rows: a `LocalRelation` with fresh
    * attributes of `schema` — no encoder conversion of the rows, and
    * no Spark job to read them back.
    */
  def localFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows))

  /** A DataFrame over an RDD of Catalyst rows of `schema` (a `LogicalRDD`,
    * scanned as `Scan ExistingRDD`) — no encoder conversion of the rows.
    */
  def rddFrame(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Write `rows` of `schema` as ONE parquet file in directory `dir`, on
    * the calling thread: no job, no commit protocol. The writer is the
    * one a Spark write task uses (`ParquetUtils.prepareWrite` and its
    * `ParquetOutputWriter`), so the file carries the session's codec and
    * parquet confs, the Spark row-metadata footer and a task's file name
    * (`part-00000-<uuid>-c000<ext>`). `schema`'s nullability is written
    * as given. A failed write deletes its partial file; making the file
    * visible is the caller's business.
    */
  def writeParquetFile(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Iterator[org.apache.spark.sql.Row], dir: String): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
      .prepareWrite(sqlConf, job, schema,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetOptions(
          Map.empty[String, String], sqlConf))
    val uuid = java.util.UUID.randomUUID().toString
    val jobId = org.apache.spark.internal.io.SparkHadoopWriterUtils
      .createJobID(new java.util.Date, 0)
    val attempt = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, 0), 0)
    val conf = job.getConfiguration
    val ctx = new TaskAttemptContextImpl(conf, attempt)
    val path = new org.apache.hadoop.fs.Path(dir,
      s"part-00000-$uuid-c000${factory.getFileExtension(ctx)}").toString
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val writer = factory.newInstance(path, schema, ctx)
    try {
      rows.foreach(r => writer.write(
        toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
      writer.close()
    } catch {
      case t: Throwable =>
        try writer.close() catch { case _: Throwable => () }
        val p = new org.apache.hadoop.fs.Path(path)
        try { p.getFileSystem(conf).delete(p, false); () }
        catch { case _: Throwable => () }
        throw t
    }
  }

  /** A reader of parquet files of `schema` on the calling thread — the
    * mirror of [[writeParquetFile]]. Its reader function is the one a
    * scan task runs (`ParquetFileFormat.buildReaderWithPartitionValues`
    * with row output and the session's parquet confs), built once here and
    * applied per file, so reading a small file costs no Spark job. Only
    * `columns` (fields of `schema`) are decoded.
    */
  final class ParquetReader(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      columns: org.apache.spark.sql.types.StructType) {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
    private val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    private val conf = session.sessionState.newHadoopConf()
    private val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      session, schema, new org.apache.spark.sql.types.StructType(), columns,
      Seq.empty, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)

    /** The data files directly under `dir`, skipping the names Spark's
      * file index skips (`_SUCCESS`, `.crc` checksums, other `_`/`.`
      * names); empty when `dir` does not exist.
      */
    def files(dir: String): Seq[FileStatus] = {
      val p = new Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(f => f.isFile &&
        !org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
        .sortBy(_.getPath.getName)
    }

    /** The row count the files' footers declare; no data page is read. */
    def rowCount(files: Seq[FileStatus]): Long = {
      import scala.jdk.CollectionConverters._
      files.map { f =>
        ParquetFooterReader.readFooter(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
          org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
          .getBlocks.asScala.map(_.getRowCount).sum
      }.sum
    }

    /** The files' rows of `columns`, in file order. The iterator reuses
      * its row object: convert or copy each row before the next.
      */
    def rows(files: Seq[FileStatus]): Iterator[org.apache.spark.sql.catalyst.InternalRow] =
      files.iterator.flatMap(f => read(PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromFileStatus(f), 0L, f.getLen,
        Array.empty[String], f.getModificationTime, f.getLen)))
  }

  /** Every row of the parquet data files in `dir`, read with `schema` on
    * the calling thread (see [[ParquetReader]]; rows are reused).
    */
  def readParquetFile(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      dir: String): Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val r = new ParquetReader(spark, schema, schema)
    r.rows(r.files(dir))
  }

  /** A projection evaluated on the calling thread: rows of `input` in,
    * rows of `output` out. `project` reuses its output row.
    */
  final class RowProjection(val input: org.apache.spark.sql.types.StructType,
      val output: org.apache.spark.sql.types.StructType,
      val project: org.apache.spark.sql.catalyst.expressions.UnsafeProjection)

  /** `cols` over rows of `schema` as one [[RowProjection]]: the analyzed
    * `select(cols)` over an empty local relation of `schema`, with
    * runtime-replaceable expressions replaced as the optimizer replaces
    * them, compiled to an `UnsafeProjection` — the expressions a scan
    * running that `select` evaluates. Its input is the fields of `schema`
    * the columns read, in `schema`'s order. None when an expression can
    * only run inside a plan (a subquery, the current database).
    */
  def rowProjection(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[Column]): Option[RowProjection] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeProjection, Unevaluable}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val df = localFrame(spark, schema, Seq.empty).select(cols: _*)
    org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions(
        df.queryExecution.analyzed) match {
      case Project(list, rel: LocalRelation)
          if !list.exists(_.exists {
            case _: Attribute => false // bound to its input column below
            case e => e.isInstanceOf[Unevaluable]
          }) =>
        val refs = AttributeSet(list.flatMap(_.references))
        val used = schema.fields.zip(rel.output).filter(f => refs.contains(f._2))
        val project = UnsafeProjection.create(list, used.map(_._2).toSeq)
        project.initialize(0)
        Some(new RowProjection(
          org.apache.spark.sql.types.StructType(used.map(_._1)), df.schema, project))
      case _ => None
    }
  }

  /** Whether every partition of `rdd` is stored in some block manager,
    * as the block manager master knows it — a task reports its blocks
    * there before it finishes, while the status store behind
    * `getRDDStorageInfo` follows the listener bus.
    */
  def storedWhole(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    org.apache.spark.SparkEnv.get.blockManager.master.getLocations(
      Array.tabulate[org.apache.spark.storage.BlockId](rdd.getNumPartitions)(
        org.apache.spark.storage.RDDBlockId(rdd.id, _))).forall(_.nonEmpty)

  /** Register a builder under `name` so the expression is usable from SQL. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Fresh empty function registry (for testing extension injection). */
  def emptyRegistry(): FunctionRegistry =
    new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

  /** Apply a `SparkSessionExtensions`' injected functions to a registry —
    * what `BaseSessionStateBuilder` does at session build; `private[sql]`,
    * hence bridged here so specs can verify injection without building a
    * whole new session.
    */
  def applyExtensions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      registry: FunctionRegistry): Unit = {
    ext.registerFunctions(registry)
    ()
  }

  /** Block until every posted event has reached every listener — the
    * listener bus is `private[spark]`. Throws on timeout.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext,
      timeoutMs: Long = 60000L): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
