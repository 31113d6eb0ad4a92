package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val df = Seq(
    (Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
    (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")

  test("graft_dot matches the higher-order formulation bit-for-bit") {
    val got = df.select(
      GraftExtensions.graftDot(spark, col("a"), col("b")).as("fast"),
      graft.functions.VectorFunctions.dot(col("a"), col("b")).as("ref"))
      .as[(Double, Double)].collect()
    got.foreach { case (f, r) => assert(f == r) }   // exact, same fold order
  }

  test("graft_cosine matches reference cosine; zero norm -> null") {
    val got = df.select(
      GraftExtensions.graftCosine(spark, col("a"), col("b")).as("fast"),
      graft.functions.VectorFunctions.cosine(col("a"), col("b")).as("ref"))
      .collect()
    got.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0))
      else assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("registered for SQL via session registry and SparkSessionExtensions") {
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("vec_pairs")
    val n = spark.sql(
      "SELECT graft_dot(a, b) d, graft_cosine(a, b) c FROM vec_pairs WHERE graft_dot(a,b) > 0")
      .count()
    assert(n == 1)   // only (1,2,3)·(4,5,6) = 32 > 0; the other rows dot to 0

    // injector applies cleanly to a SparkSessionExtensions instance (the
    // full spark.sql.extensions path needs its own SparkContext, which
    // would tear down the suite-shared one — exercised in deployment)
    new graft.plans.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("type check rejects non-float arrays") {
    GraftExtensions.register(spark)
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0), array(2.0))").collect()
    }
    assert(err.getMessage.contains("array<float>"))
  }

  test("graft_nearest_cells: nearest first, ties to the lower cell, at most the table's cells") {
    import graft.plans.NearestCells
    // cells 1 and 2 are the same point; cell 3 is farther from (0, 1)
    val table = NearestCells.encode(Seq(
      3 -> Array(1.0, 0.0), 2 -> Array(0.0, 1.0), 1 -> Array(0.0, 1.0)))
    val vecs = Seq(Some(Seq(0.0f, 1.0f)), None).toDF("v")
    def cells(n: Int) = vecs.select(GraftExtensions.graftNearestCells(spark, col("v"), table, n))
      .collect().map(r => Option(r.getSeq[Int](0)))
    assert(cells(1).toSeq == Seq(Some(Seq(1)), None))
    assert(cells(2).head == Some(Seq(1, 2)))
    assert(cells(5).head == Some(Seq(1, 2, 3)))
  }
}
