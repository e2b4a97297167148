package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** Facts read off a frame's physical plan: how many exchanges it runs
  * and how many interpreted (`CodegenFallback`) expressions it holds. */
object Plans {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def scoreFacts(df: DataFrame): Map[String, Double] = {
    val ns = nodes(df.queryExecution.executedPlan)
    val exchanges = ns.count(_.isInstanceOf[Exchange])
    val fallbacks = ns.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum
    Map("score.exchanges" -> exchanges.toDouble, "score.codegen_fallbacks" -> fallbacks.toDouble)
  }
}
