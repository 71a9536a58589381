package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Spark-native deployment hook: register the engine's custom Catalyst
  * expressions and planner strategies ([[SingleTaskSort]]) through the
  * official `SparkSessionExtensions` mechanism, so a cluster enables them
  * with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (no code changes, works from spark-submit/Connect/SQL-only clients).
  * The per-session `GraftFunctions.register` path stays for embedded use.
  * Both routes consume `GraftFunctions.builders` — the one list of
  * (name, arity, class, builder) — and `GraftFunctions.strategies`, so
  * their surfaces cannot diverge. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, arity, cls, build) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        GraftFunctions.checkedBuilder(name, arity, build)))
    }
    GraftFunctions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}
