package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Runs an expression's query on both evaluation paths — generated code
  * and interpreted `eval` — so a property spec pins both.
  *
  * A projection over a local relation (`Seq(...).toDF()`) is normally
  * folded at plan time by the optimizer rule `ConvertToLocalRelation`,
  * which evaluates it interpreted; both runs exclude that rule so the
  * projection reaches execution. The compiled run keeps whole-stage
  * codegen on with no fallback to interpreted evaluation on a compile
  * error; the interpreted run turns it off and sets the expression
  * factories to `NO_CODEGEN`. Spark honours the factory mode only in a
  * JVM marked as a test (the `spark.testing` system property, read on
  * every projection it creates), so both runs set that property for their
  * duration; without it `NO_CODEGEN` silently compiles.
  */
trait EvalPaths { self: SparkSpec =>

  private val keepProjection = Map("spark.sql.optimizer.excludedRules" ->
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")

  private val compiled = keepProjection ++ Map(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.fallback" -> "false",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")

  private val interpreted = keepProjection ++ Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  private def withConfs[T](confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val testing = sys.props.get("spark.testing")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    sys.props("spark.testing") = "true"
    try body
    finally {
      testing match {
        case Some(v) => sys.props("spark.testing") = v
        case None => sys.props.remove("spark.testing")
      }
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Doubles as raw bits, recursively, so NaN payloads and the zero sign
    * count in an equality.
    */
  protected def rawBits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(rawBits)
    case s: scala.collection.Seq[_] => s.map(rawBits)
    case other => other
  }

  /** Collects `df` (built afresh for each run) compiled and interpreted,
    * fails unless the two runs return the same rows bit for bit, and
    * returns the compiled rows.
    */
  protected def collectBothPaths(df: => DataFrame): Array[Row] = {
    val c = withConfs(compiled)(df.collect())
    val i = withConfs(interpreted)(df.collect())
    val (cb, ib) = (c.toSeq.map(rawBits), i.toSeq.map(rawBits))
    assert(cb == ib, s"compiled and interpreted rows differ:\n$cb\n$ib")
    c
  }

  /** True when an expression matching `p` is evaluated inside a
    * whole-stage codegen stage of `df`'s compiled executed plan (nodes
    * below an `InputAdapter` belong to another stage).
    */
  protected def compiledInStage(df: => DataFrame)(p: Expression => Boolean): Boolean =
    withConfs(compiled) {
      val q = df
      q.collect()
      def stage(n: SparkPlan): Seq[SparkPlan] = n match {
        case _: InputAdapter => Nil
        case other => other +: other.children.flatMap(stage)
      }
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      plan.exists {
        case w: WholeStageCodegenExec =>
          stage(w.child).exists(_.expressions.exists(_.exists(p)))
        case _ => false
      }
    }
}
