package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.internal.SQLConf
import graft.functions.CosineSimExpr

/** SparkSessionExtensions entry point: inject the engine's native
  * functions at session build time
  * (`spark.sql.extensions=graft.GraftExtensions`). Runtime
  * registration via [[CosineSimExpr.register]] is equivalent for
  * sessions built without the conf.
  *
  * Every session built with these extensions also shares one class
  * space. Spark caches generated classes by (thread context class
  * loader, code), and with artifact isolation on (the default) each
  * session's tasks run under a class loader of their own, so every
  * fresh session — each `newSession()` and each session a streaming
  * query clones — would compile and JIT-compile every generated class
  * again. The engine adds no per-session jars or artifacts, so it
  * turns isolation off; the price is that a jar one session adds is
  * visible to all of them. The check-rule builder runs when a session
  * builds its analyzer, at its first analysis, which precedes its
  * first execution, where `ArtifactManager` reads the flag.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectCheckRule { session =>
      session.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, false)
      _ => ()
    }
    ext.injectOptimizerRule(_ =>
      graft.plans.CollapseIdempotentStringOps)
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofCosine)
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofL2Sq)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    ext.injectFunction(
      (
        new FunctionIdentifier("cosine_sim"),
        new ExpressionInfo(
          classOf[CosineSimExpr].getName,
          "cosine_sim"),
        (args: Seq[Expression]) => CosineSimExpr(args(0), args(1))))
    ext.injectFunction(
      (
        new FunctionIdentifier("l2_sq"),
        new ExpressionInfo(
          classOf[graft.functions.L2SqExpr].getName,
          "l2_sq"),
        (args: Seq[Expression]) =>
          graft.functions.L2SqExpr(args(0), args(1))))
    ext.injectFunction(
      (
        new FunctionIdentifier("hilbert_index"),
        new ExpressionInfo(
          classOf[graft.functions.HilbertIndexExpr].getName,
          "hilbert_index"),
        (args: Seq[Expression]) =>
          graft.functions.HilbertIndexExpr(args(0), args(1))))
    ext.injectFunction(
      (
        new FunctionIdentifier("parse_movies"),
        new ExpressionInfo(
          classOf[graft.functions.ParseMoviesGenerator].getName,
          "parse_movies"),
        (args: Seq[Expression]) =>
          graft.functions.ParseMoviesGenerator(args(0), args(1))))
  }
}
