package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The extension needs its own session (spark.sql.extensions is fixed
  * at session build), so this spec does not share SparkSpec.session.
  * It still goes through `Sessions.configure` (test sessions must not
  * drift from the configs the library requires); only the master and
  * partition count are its own.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = graft.Sessions.configure(
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2"))
    .getOrCreate()

  // parquet-backed (a literal Seq becomes a LocalRelation and the whole
  // expression constant-folds away before the rule can be observed)
  private def hofDot = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .selectExpr("vec_id",
      """aggregate(
        |  zip_with(transform(embedding, x -> cast(x as double)),
        |           transform(embedding, y -> cast(y as double)),
        |           (x, y) -> x * y),
        |  cast(0.0 as double), (acc, v) -> acc + v) AS dot""".stripMargin)

  test("HOF dot-product pattern is rewritten to VectorDot") {
    val optimized = hofDot.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("vectordot"),
      s"expected VectorDot in:\n$optimized")
  }

  test("rewritten plan computes the same values as the HOF form") {
    import org.apache.spark.sql.functions._
    val viaRule = hofDot.orderBy("vec_id").limit(5).collect()
      .map(_.getDouble(1))
    val direct = {
      graft.functions.VectorExpressions.ensureRegistered(spark)
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"),
          call_function("vector_dot", col("embedding"), col("embedding"))
            .as("dot"))
        .orderBy("vec_id").limit(5).collect().map(_.getDouble(1))
    }
    assert(viaRule.toSeq == direct.toSeq)
  }

  test("VectorDot matches HOF null semantics: length mismatch → NULL") {
    import spark.implicits._
    graft.functions.VectorExpressions.ensureRegistered(spark)
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
      .selectExpr("vector_dot(a, b) AS viaKernel",
        """aggregate(
          |  zip_with(transform(a, x -> cast(x as double)),
          |           transform(b, y -> cast(y as double)),
          |           (x, y) -> x * y),
          |  cast(0.0 as double), (acc, v) -> acc + v) AS viaHof""".stripMargin)
    val r = df.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("float-typed multiply (different rounding) is NOT rewritten") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      .select(expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + cast(v as double))")
        .as("dot"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("vectordot"))
    assert(df.collect().head.getDouble(0) == 11.0)
  }
}
