package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.util.QueryExecutionListener

/** How much of one executed plan runs in generated code.
  *
  * @param codegenStages  whole-stage codegen spans
  * @param outsideCodegen operators outside every span (exchanges, object
  *                       aggregates, windows, scans of cached data …)
  * @param fallbacks      `Operator: expression` for every interpreted
  *                       (`CodegenFallback`) expression outside an
  *                       aggregate function — higher-order functions
  *                       such as `transform` or `zip_with`; each splits
  *                       its stage and adds a generated class
  * @param sortAggregates `SortAggregate` operators, the aggregate Spark
  *                       falls back to for array-typed `first` buffers */
final case class CodegenCensus(codegenStages: Int, outsideCodegen: Seq[String],
                               fallbacks: Seq[String], sortAggregates: Int) {

  def render: String = {
    def tally(xs: Seq[String]) =
      if (xs.isEmpty) "none"
      else xs.groupMapReduce(identity)(_ => 1)(_ + _).toSeq.sortBy(_._1)
        .map { case (x, n) => if (n == 1) x else s"$x x$n" }.mkString(", ")
    s"codegen stages $codegenStages; outside codegen: ${tally(outsideCodegen)}; " +
      s"CodegenFallback: ${tally(fallbacks)}"
  }
}

/** The census of executed plans behind `graft.ExplainQuery` and the
  * plan lint in CodegenSuite. It looks through adaptive and query-stage
  * wrappers, into subqueries, command children and the plans of cached
  * relations. */
object CodegenCensus {

  def of(plan: SparkPlan): CodegenCensus = {
    var stages = 0
    var sortAggs = 0
    val outside = mutable.ArrayBuffer.empty[String]
    val fallbacks = mutable.ArrayBuffer.empty[String]
    // a lambda and its variables are counted as part of their function
    def interpreted(e: Expression): Seq[String] = e match {
      case _: AggregateFunction | _: LambdaFunction | _: NamedLambdaVariable =>
        e.children.flatMap(interpreted)
      case f: CodegenFallback => f.prettyName +: f.children.flatMap(interpreted)
      case _ => e.children.flatMap(interpreted)
    }
    def visit(p: SparkPlan, inSpan: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan, inSpan)
      case s: QueryStageExec => visit(s.plan, inSpan)
      case w: WholeStageCodegenExec => stages += 1; visit(w.child, inSpan = true)
      case i: InputAdapter => visit(i.child, inSpan = false)
      case other =>
        if (other.isInstanceOf[SortAggregateExec]) sortAggs += 1
        val name = other.nodeName.trim
        if (!inSpan) outside += name
        other.expressions.flatMap(interpreted).foreach(f => fallbacks += s"$name: $f")
        other match {
          case m: InMemoryTableScanExec => visit(m.relation.cachedPlan, inSpan = false)
          case _ =>
        }
        (other.children ++ other.innerChildren.collect { case c: SparkPlan => c })
          .foreach(visit(_, inSpan))
        other.subqueries.foreach(visit(_, inSpan = false))
    }
    visit(plan, inSpan = false)
    CodegenCensus(stages, outside.toSeq, fallbacks.toSeq, sortAggs)
  }

  /** The executed plans of every query `body` runs in `spark` — actions,
    * eager driver collects and writes alike. */
  def capture(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      Shim.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }
}
