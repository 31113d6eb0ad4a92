package graft

import graft.sources.TxTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Merge-on-read deletion vectors (round 16), driven through
 * [[TxTable]]'s delete commits: overlapping delete batches OR-compose
 * per file, the change feed reports each death once, and the in-scan DV filter
 * leaves the data scan's pushdown intact.
 */
class DeleteVectorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-dv").toString

  private def freshTable(root: String, n: Int = 1000, parts: Int = 4): Unit = {
    import spark.implicits._
    TxTable.create(spark, root, (0 until n).map(i => (i.toLong, s"name$i", i % 10))
      .toDF("id", "name", "bucket")
      .repartition(parts))
  }

  test("overlapping deletes OR-compose; each death feeds once, at its first delete") {
    import spark.implicits._
    val t = tmp() + "/t"
    freshTable(t)
    val first = TxTable.deleteWhere(spark, t, col("id") < 100)
    // overlaps [0,100) ∪ multiples of 10: only the 90 NEW deaths are its
    val second = TxTable.deleteWhere(spark, t, col("id") % 10 === 0)
    assert(TxTable.read(spark, t).count() === 1000L - 190L)
    def deaths(from: Long) = TxTable.changeFeed(spark, t, Seq("id"), fromCommit = from)
      .filter(col("op") === "d")
    assert(deaths(first).count() === 190L)
    val delta = deaths(second)
    assert(delta.count() === 90L,
      "rows the first delete already killed must not reappear in the second's feed")
    assert(delta.filter(col("id") % 10 =!= 0 || col("id") < 100).count() === 0L)
    // row payload comes back intact for a sampled death
    val r = delta.filter(col("id") === 250L).head
    assert(r.getAs[String]("name") === "name250" && r.getAs[Int]("bucket") === 0)
    // re-deleting kills nothing: an empty commit, no vectors, same snapshot
    val again = TxTable.deleteWhere(spark, t, col("id") < 100)
    assert(!graft.sources.Fs.isDirectory(s"$t/_txn/dv/$again"))
    assert(TxTable.read(spark, t).count() === 810L)
    assert(deaths(again).count() === 0L)
    // the payload columns are the table's own, whatever the cursor
    assert(deaths(again + 1).select("id", "name", "bucket").as[(Long, String, Int)]
      .collect().isEmpty)
  }

  test("the scan side keeps pushdown: DV join is metadata-only") {
    val t = tmp() + "/t"
    freshTable(t)
    TxTable.deleteWhere(spark, t, col("id") < 10)
    val plan = TxTable.read(spark, t)
      .filter(col("bucket") === 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(bucket), EqualTo(bucket,5)]") ||
      plan.contains("EqualTo(bucket,5)"),
      s"user predicate must still reach the parquet scan:\n$plan")
    assert(plan.contains("graft_dv_alive") && !plan.contains("Join") &&
      !plan.contains("Exchange"),
      s"DV side must be the in-scan graft_dv_alive filter, no join or exchange:\n$plan")
  }
}
