package graft

import graft.functions.TextFunctions
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed streaming front door (quality gate → content dedup)
  * drains to exactly the batch formulation: filter then keep one copy
  * per distinct text. */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streamed quality gate + dedup equals the batch filter + distinct") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-ing").toString
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100000L))
      .write.parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    val minQ = 0.5
    val stream = spark.readStream.schema(schema).parquet(s"$base/in")
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) + pmod(col("doc_id"), lit(100000L)) * 1000L))
    val q = Streams.runToMemory(
      Streams.ingestStream(stream, "ts", "text", minQuality = minQ), "ingest")
    try {
      val got = spark.table("ingest")
      val batchSurvivors = docs
        .filter(TextFunctions.qualityScore(col("text")) >= minQ)
        .select("text").distinct().count()
      // the gate must actually reject something, or the test is vacuous
      assert(batchSurvivors > 0 && batchSurvivors < docs.count(),
        s"threshold $minQ gates nothing on this corpus — adjust")
      assert(got.count() == batchSurvivors, "streamed == batch survivor count")
      assert(got.filter(TextFunctions.qualityScore(col("text")) < minQ).count() == 0,
        "no below-threshold doc leaks past the gate")
    } finally q.stop()
  }

  test("AvailableNow sink drains, stops itself, and picks up only the delta on relaunch") {
    // the scheduled-incremental shape (round 13): run 1 lands everything
    // present and terminates on its own; new files arrive; run 2 with the
    // SAME checkpoint lands exactly the delta — checkpointed exactly-once
    // pickup with batch-job lifecycle.
    val base = java.nio.file.Files.createTempDirectory("graft-avnow").toString
    def write(ids: Range, f: String): Unit = {
      import spark.implicits._
      ids.map(i => (i.toLong, s"doc $i")).toDF("id", "text")
        .coalesce(1).write.parquet(s"$base/in/$f")
    }
    write(1 to 30, "f0")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    def launch() = Streams.parquetSink(
      spark.readStream.schema(schema).parquet(s"$base/in/*"),
      s"$base/out", s"$base/ckpt", availableNow = true)
    val q1 = launch()
    assert(q1.awaitTermination(120000), "AvailableNow run 1 must stop on its own")
    assert(spark.read.parquet(s"$base/out").count() == 30)
    write(31 to 45, "f1")
    val q2 = launch()
    assert(q2.awaitTermination(120000), "AvailableNow run 2 must stop on its own")
    val landed = spark.read.parquet(s"$base/out")
    assert(landed.count() == 45, "relaunch must land ONLY the 15 new rows (no re-read)")
    assert(landed.select("id").distinct().count() == 45)
  }

  test("parquetSink honors maxRecordsPerFile") {
    val base = java.nio.file.Files.createTempDirectory("graft-sinkopts").toString
    spark.range(1000).selectExpr("id", "concat('doc ', id) as text")
      .coalesce(1).write.parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    val q = Streams.parquetSink(spark.readStream.schema(schema).parquet(s"$base/in"),
      s"$base/out", s"$base/ckpt",
      opts = graft.sources.ParquetIO.WriteOptions(maxRecordsPerFile = 100), availableNow = true)
    assert(q.awaitTermination(120000), "AvailableNow run must stop on its own")
    val perFile = spark.read.parquet(s"$base/out")
      .groupBy(col("_metadata.file_path")).count().collect().map(_.getLong(1))
    assert(perFile.sum === 1000L)
    assert(perFile.max <= 100L, s"rows per file: ${perFile.sorted.mkString(",")}")
  }
}
