package graft

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Filter

/** Pins the optimized-plan shape of the quality filter: its condition must
 * name the text column once, so filter pushdown (which copies a projected
 * alias into every reference) cannot multiply the text's upstream
 * derivation inside a FilterExec, which does no subexpression
 * elimination. */
class TextPlanShapeSpec extends SparkTestBase {
  private val dir = "perfbench/data/sf0.001"

  private def optimized(query: String): String =
    SparkEntry.queries(query)(spark, dir).queryExecution.optimizedPlan.toString

  test("q60: the PII-redaction chain appears at most twice in the optimized plan") {
    // once in the pushed-down filter, once in the output projection
    val n = "<EMAIL>".r.findAllMatchIn(optimized("q60_sql_curation")).size
    assert(n >= 1 && n <= 2, s"redaction evaluated $n times per row")
  }

  test("t05: the quality filter's condition references the text attribute once") {
    val plan = SparkEntry.queries("t05_quality_filter")(spark, dir)
      .queryExecution.optimizedPlan
    val counts = plan.collect { case f: Filter =>
      f.condition.collect { case a: AttributeReference if a.name == "text" => a }.size
    }.filter(_ > 0)
    assert(counts === Seq(1), plan.toString)
  }
}
