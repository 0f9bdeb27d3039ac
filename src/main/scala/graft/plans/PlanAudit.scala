package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Programmatic physical-plan audits — the properties that decide whether a
  * query survives a 100× scale-up (SURVEY §4): filters/projections reaching
  * the scan, wide-column pruning, broadcast vs shuffle joins, codegen
  * coverage, shuffle count. Used by PlanAuditSpec and available to users as
  * an operational pre-flight check on their own queries.
  */
object PlanAudit {

  final case class Audit(
      pushedFilters: Seq[String],
      readSchemas: Seq[String],
      shuffles: Int,
      broadcasts: Int,
      codegenStages: Int,
      hasTakeOrdered: Boolean) {
    /** Columns read from any scan (union over files sources). */
    def readsColumn(name: String): Boolean =
      readSchemas.exists(_.contains(s"$name:"))
  }

  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => collectPlans(a.executedPlan)
      // after AQE materializes a stage the real operators live inside the
      // stage wrapper, whose `children` is Nil
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectPlans(q.plan)
      case _ => Seq.empty
    }
    (p +: p.children.flatMap(collectPlans)) ++ nested
  }

  def audit(df: DataFrame): Audit = {
    val plan = df.queryExecution.executedPlan
    val all = collectPlans(plan)
    val planStr = plan.toString
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(planStr).map(_.group(1)).filter(_.nonEmpty).toSeq
    val schemas = "ReadSchema: (struct<[^>]*>)".r
      .findAllMatchIn(planStr).map(_.group(1)).toSeq
    Audit(
      pushedFilters = pushed,
      readSchemas = schemas,
      shuffles = all.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = all.count(_.isInstanceOf[BroadcastExchangeLike]),
      codegenStages = all.count(_.isInstanceOf[WholeStageCodegenExec]),
      hasTakeOrdered = planStr.contains("TakeOrderedAndProject"))
  }

  /** Fail-fast assertion for pipelines: the named wide column must not be
    * read by this query (e.g. a 2688-dim embedding in a profile query).
    */
  def assertColumnPruned(df: DataFrame, column: String): Unit = {
    val a = audit(df)
    require(!a.readsColumn(column),
      s"query reads pruned column '$column'; schemas: ${a.readSchemas.mkString("; ")}")
  }
}
