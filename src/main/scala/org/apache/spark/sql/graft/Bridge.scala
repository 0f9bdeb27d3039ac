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
