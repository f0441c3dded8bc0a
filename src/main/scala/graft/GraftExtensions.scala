package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
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
  *
  * The same builder binds `FileContext`'s `file:` scheme to
  * [[NioLocalFs]] on the context's Hadoop configuration, while the key
  * still names Hadoop's default, so checkpoint and state-store files
  * are written without a `chmod`/`readlink` child process each. Hadoop
  * keeps no `AbstractFileSystem` cache, so every Hadoop conf copied
  * afterwards, streaming checkpoints' among them, resolves to it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sizeCodegenCache()
    ext.injectCheckRule { session =>
      session.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, false)
      GraftExtensions.bindLocalFileContext(session.sparkContext.hadoopConfiguration)
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

object GraftExtensions {

  /** Entries of Spark's one JVM-wide codegen cache. Its default, 100,
    * holds less than one pass of a workload: a class compiled on a
    * driver thread and again in a task keys two entries (the key
    * includes the thread's class loader), so a warm pass evicts
    * classes it needs again and recompiles them. 1000 entries hold
    * every workload's classes; the cost is that up to 1000 generated
    * classes stay loaded.
    */
  val CodegenCacheEntries = 1000

  /** `FileContext`'s `file:` implementation key. */
  val LocalFileContextKey = "fs.AbstractFileSystem.file.impl"

  /** Name [[NioLocalFs]] under [[LocalFileContextKey]] unless `conf`
    * already names a class other than Hadoop's default, `LocalFs`.
    */
  private[graft] def bindLocalFileContext(conf: Configuration): Unit =
    if (conf.get(LocalFileContextKey) == classOf[LocalFs].getName)
      conf.set(LocalFileContextKey, classOf[NioLocalFs].getName)

  /** Spark sizes the cache once, from `SQLConf.get`, when
    * `CodeGenerator` first loads; a context that sets the key itself
    * keeps its own size. Loading it here, under a conf that sets the
    * key, fixes the size before any session compiles a class.
    */
  private def sizeCodegenCache(): Unit = {
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (!Option(SparkEnv.get).exists(_.conf.contains(key))) {
      val conf = new SQLConf
      conf.setConfString(key, CodegenCacheEntries.toString)
      // Referencing the object runs its initializer, which sizes the cache.
      SQLConf.withExistingConf(conf)(CodeGenerator)
    }
  }
}
