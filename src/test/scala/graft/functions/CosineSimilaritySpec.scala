package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The native expression must be bit-identical to the HOF formulation
  * the oracle-checked queries use, run inside whole-stage codegen, and
  * survive a fresh session with GraftExtensions. */
class CosineSimilaritySpec extends SparkTestBase {

  private def vecs = {
    import spark.implicits._
    Seq((1L, Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
        (2L, Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),
        (3L, Seq(0.5f, -1.5f, 2.25f), Seq(-0.25f, 0.75f, 1.0f)),
        (4L, Seq.empty[Float], Seq.empty[Float]))
      .toDF("id", "a", "b")
      .withColumn("a", expr("transform(a, x -> CAST(x AS DOUBLE))"))
      .withColumn("b", expr("transform(b, x -> CAST(x AS DOUBLE))"))
  }

  test("matches the HOF formulation bit-for-bit") {
    GraftFunctions.register(spark)
    val hof =
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)") /
        (sqrt(expr("aggregate(a, 0D, (acc, x) -> acc + x * x)")) *
          sqrt(expr("aggregate(b, 0D, (acc, x) -> acc + x * x)")))
    val out = vecs.select(col("id"),
        expr("cosine_similarity(a, b)").as("native"),
        when(col("a") === array() || col("b") === array(), lit(0.0)).otherwise(hof).as("viaHof"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    out.foreach { case (id, native, viaHof) =>
      assert(java.lang.Double.doubleToLongBits(native) == java.lang.Double.doubleToLongBits(viaHof),
        s"id=$id native=$native hof=$viaHof")
    }
    assert(out.find(_._1 == 1L).get._2 == 1.0) // identical vectors
    assert(out.find(_._1 == 2L).get._2 == 0.0) // orthogonal
  }

  test("implicit cast accepts raw float arrays") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq((Seq(1.0f, 2.0f), Seq(2.0f, 4.0f))).toDF("a", "b")
    val c = df.select(expr("cosine_similarity(a, b)").as("c")).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("runs inside whole-stage codegen (no fallback to interpreted eval)") {
    GraftFunctions.register(spark)
    // spark.range is a codegen source (constant local data would be
    // pre-evaluated by ConvertToLocalRelation and show no codegen span)
    // plain array() — a transform() HOF here would itself be a
    // CodegenFallback and push the whole projection out of codegen
    val df = spark.range(100)
      .selectExpr("array(CAST(id AS DOUBLE), CAST(id + 1 AS DOUBLE), 3D) AS a",
        "array(CAST(id * 2 AS DOUBLE), CAST(id + 2 AS DOUBLE), 1D) AS b")
      .selectExpr("cosine_similarity(a, b) AS c")
    // the executed plan marks codegen stages with a `*(n)` prefix —
    // the Project holding cosine_similarity must carry one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cosine_similarity"), plan)
    val got = df.agg(min(col("c")), max(col("c"))).head()
    assert(got.getDouble(0) > 0.5 && got.getDouble(1) <= 1.0) // sane values through codegen
  }

  test("GraftExtensions injects the function at session build time") {
    import org.apache.spark.sql.SparkSession
    // spark.sql.extensions is STATIC conf — it must be on the
    // SparkContext at creation, so this test owns the context
    // lifecycle: stop the shared one, build with the extension class,
    // assert the function resolves WITHOUT GraftFunctions.register,
    // then tear down (SparkTestBase.session is getOrCreate-based and
    // rebuilds transparently for later suites).
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val withExt = graft.core.Sessions.builder("local[2]", 2).appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    try {
      val c = withExt.sql("SELECT cosine_similarity(array(1D,0D), array(1D,0D)) AS c").head().getDouble(0)
      assert(c == 1.0)
    } finally {
      withExt.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
  }
}
