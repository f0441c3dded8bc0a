package graft

import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** The HOF→native cosine rewrite must fire on the exact composition
  * `Vectors.cosine` builds (replacing four interpreted array
  * traversals with one codegen'd loop) and must NOT touch
  * almost-cosine shapes (different lambda, different norm child).
  */
class RewriteHofCosineSpec extends SparkTestBase {

  test("HOF cosine is rewritten to the native expression") {
    val e = Tables.embeddings(spark, sfDir)
    val df = e
      .crossJoin(
        e.select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .filter(col("vec_id") < 3 && col("id2") < 3)
      .select(Vectors.cosine(col("embedding"), col("e2")).as("sim"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("cosine_sim"),
      s"expected CosineSimExpr in optimized plan:\n$optimized")
    // Values match the un-rewritten HOF fold bit-for-bit (the
    // expression-level equality is pinned in CosineSimExprSpec; here
    // we pin that the REWRITTEN plan agrees with eval'd HOF).
    val sims = df.collect().map(_.getDouble(0))
    assert(sims.count(s => math.abs(s - 1.0) < 1e-12) == 3)
  }

  test("ANSI divide-by-zero survives the rewrite where it actually fires") {
    // CosinePropsSpec's zero-norm test runs on a LocalRelation, which
    // ConvertToLocalRelation evaluates BEFORE the extension rule sees
    // the plan — it pins the un-rewritten forms, not the rewrite. This
    // test is the one that caught failOnError being silently pinned
    // false: Divide's third field is a NumericEvalContext wrapper, and
    // `ctx == EvalMode.ANSI` typechecks but is always false. A parquet
    // scan keeps the plan out of local-relation folding, so the
    // rewritten expression itself must carry the ANSI throw.
    import spark.implicits._
    val dir = Fs.scratch(spark, "zero_vec") + "/v"
    Seq((0L, Seq(0f, 0f)), (1L, Seq(3f, 4f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(dir)
    def sims(): org.apache.spark.sql.DataFrame = {
      val v = spark.read.parquet(dir)
      v.crossJoin(v.select(col("embedding").as("e2")))
        .select(Vectors.cosine(col("embedding"), col("e2")).as("sim"))
    }
    def allMessages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val df = sims()
    assert(df.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
      "rewrite did not fire on the parquet-backed plan")
    val e = intercept[Exception](df.collect())
    assert(allMessages(e).contains("DIVIDE_BY_ZERO"),
      s"expected DIVIDE_BY_ZERO through the rewritten plan, " +
        s"got: ${allMessages(e).take(200)}")

    // Legacy mode through the SAME fired rewrite: NULL, never NaN.
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val legacy = sims() // re-analyzed under legacy divide semantics
      assert(legacy.queryExecution.optimizedPlan.toString
        .contains("cosine_sim"))
      val vals = legacy.collect()
      assert(vals.count(_.isNullAt(0)) == 3, vals.mkString(","))
      assert(!vals.exists(r => !r.isNullAt(0) && r.getDouble(0).isNaN))
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
  }

  test("sum-of-squares zip lambda is not mistaken for a dot product") {
    val e = Tables.embeddings(spark, sfDir)
    // zip_with(a, b, (x,y) -> x*x): matches the Multiply-of-casts
    // SHAPE but not the bound-variable check — must not rewrite.
    def sumSq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a, b, (x, _) => x.cast("double") * x.cast("double")),
        lit(0.0),
        (acc, v) => acc + v)
    val df = e
      .crossJoin(
        e.select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .filter(col("vec_id") < 2 && col("id2") < 2)
      .select(
        (sumSq(col("embedding"), col("e2")) /
          (sqrt(Vectors.dot(col("embedding"), col("embedding"))) *
            sqrt(Vectors.dot(col("e2"), col("e2"))))).as("not_cosine"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"),
      s"bound-variable check must reject sum-of-squares:\n$optimized")
    assert(df.count() > 0)
  }

  test("almost-cosine shapes are left untouched") {
    val e = Tables.embeddings(spark, sfDir)
    // Second norm is over the dot's LEFT side, not its right side —
    // the shape matches everywhere except the semantic-equality guard.
    val df = e
      .crossJoin(
        e.select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .filter(col("vec_id") < 2 && col("id2") < 2)
      .select(
        (Vectors.dot(col("embedding"), col("e2")) /
          (Vectors.norm(col("embedding")) *
            Vectors.norm(col("embedding")))).as("not_cosine"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"),
      s"rewrite must not fire on non-cosine shapes:\n$optimized")
    assert(df.count() > 0)
  }
}
