package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.scalatest.funsuite.AnyFunSuite

/** A window with an empty partition spec runs in ONE task over every
  * row: fine on a test fixture, a single-node bottleneck at scale. No
  * registered window query may plan one. */
class WindowPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** The executed (post-AQE) plan's windows that have no partition spec. */
  private def unpartitionedWindows(df: DataFrame): Seq[WindowExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
  }

  test("the check sees an unpartitioned window") {
    val df = spark.range(10).withColumn("r", row_number().over(Window.orderBy(col("id"))))
    assert(unpartitionedWindows(df).nonEmpty)
  }

  test("no registered q_window_* query runs a window over an empty partition spec") {
    val names = SparkEntry.queries.keys.filter(_.startsWith("q_window_")).toSeq.sorted
    assert(names.size >= 6)
    names.foreach { n =>
      val bad = unpartitionedWindows(SparkEntry.queries(n)(spark, TestSpark.sf))
      assert(bad.isEmpty, s"$n plans an unpartitioned window: ${bad.mkString("; ")}")
    }
  }
}
