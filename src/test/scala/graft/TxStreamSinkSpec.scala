package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TxTable

/**
 * Round-19 streaming WRITE surface + SQL metadata tables:
 *
 *  - `df.writeStream.format("txtable")` is the V1 Sink over the
 *    per-batch MERGE body `Streams.txUpsertBatch` — options
 *    (keys/versionCol/opCol/partitionCols) route through, each batch is
 *    one atomic commit, tombstones kill;
 *  - chained with `readStream.format("txtable")` it replicates a
 *    mutating table END TO END (change feed → MERGE) with the feed's
 *    commit id as the replica's version;
 *  - batch writer layout options: `option("partitionCols", …)` /
 *    `option("bloomCols", …)` lay commits out hive-style;
 *  - `SELECT * FROM <cat>.t$history` / `t$cursors` resolve as virtual
 *    metadata tables equal to `TxTable.history` / registered cursors.
 */
class TxStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-txsink").toString

  test("writeStream.format(txtable): per-batch MERGE with tombstones") {
    val dir = tmp()
    // three file-batches, drained one per trigger: inserts, then
    // tombstones + new keys, then a higher-version re-insert
    (1L to 50L).map(k => (k, "a", 1L, "u")).toDF("k", "payload", "v", "op")
      .coalesce(1).write.parquet(s"$dir/in/f0")
    ((1L to 10L).map(k => (k, "x", 2L, "d")) ++
      (41L to 60L).map(k => (k, "b", 2L, "u")))
      .toDF("k", "payload", "v", "op")
      .coalesce(1).write.parquet(s"$dir/in/f1")
    Seq((5L, "c", 3L, "u")).toDF("k", "payload", "v", "op")
      .coalesce(1).write.parquet(s"$dir/in/f2")
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/*")
      .writeStream.format("txtable")
      .option("keys", "k").option("versionCol", "v").option("opCol", "op")
      .option("checkpointLocation", s"$dir/cp")
      .start(s"$dir/t")
    try q.processAllAvailable() finally q.stop()
    val m = TxTable.read(spark, s"$dir/t")
      .select("k", "payload", "v").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m.size === 51)
    assert((1L to 4L).forall(k => !m.contains(k)), "tombstoned keys dead")
    assert(m(5L) === ("c", 3L), "re-insert beats the tombstone")
    assert((41L to 60L).forall(k => m(k) === ("b", 2L)))
    // a second stream over the same checkpoint lands nothing twice
    val q2 = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/*")
      .writeStream.format("txtable")
      .option("keys", "k").option("versionCol", "v").option("opCol", "op")
      .option("checkpointLocation", s"$dir/cp")
      .start(s"$dir/t")
    try q2.processAllAvailable() finally q2.stop()
    assert(TxTable.read(spark, s"$dir/t").count() === 51L)
  }

  test("checkpoint fallback: session default + queryName resolves, unnamed stays loud (round 20)") {
    val dir = tmp()
    (1L to 20L).map(k => (k, 1L)).toDF("k", "v")
      .coalesce(1).write.parquet(s"$dir/in/f0")
    val schema = spark.read.parquet(s"$dir/in/f0").schema
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$dir/cps")
    try {
      // a NAMED stream on the session default resolves exactly where
      // Spark itself would checkpoint it — same identity, same markers
      val q = spark.readStream.schema(schema).parquet(s"$dir/in/*")
        .writeStream.format("txtable").queryName("fallback_sink")
        .option("keys", "k").option("versionCol", "v")
        .start(s"$dir/t")
      try q.processAllAvailable() finally q.stop()
      assert(TxTable.read(spark, s"$dir/t").count() === 20L)
      assert(new java.io.File(s"$dir/cps/fallback_sink").exists(),
        "the stream must checkpoint under <sessionDefault>/<queryName>")
      // an UNNAMED stream on the session default checkpoints under a
      // fresh random dir each start — a guessed identity would reset
      // the replay markers, so it must stay loud
      val ex = intercept[Exception] {
        spark.readStream.schema(schema).parquet(s"$dir/in/*")
          .writeStream.format("txtable")
          .option("keys", "k").option("versionCol", "v")
          .start(s"$dir/t2")
      }
      assert(ex.getMessage.contains("checkpointLocation"),
        s"unnamed session-default stream must route loudly: ${ex.getMessage}")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("end-to-end replication: readStream(txtable) piped into writeStream(txtable)") {
    val dir = tmp()
    val src = s"$dir/src"
    val rep = s"$dir/rep"
    def replicate(): Unit = {
      val q = spark.readStream.format("txtable")
        .option("keys", "id").option("startingCursor", "-1")
        .load(src)
        .writeStream.format("txtable")
        .option("keys", "id").option("versionCol", "commit")
        .option("opCol", "op")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(Trigger.AvailableNow())
        .start(rep)
      q.awaitTermination()
    }
    TxTable.create(spark, src,
      (0L until 40L).map(i => (i, s"x$i", 0L)).toDF("id", "s", "version"))
    TxTable.upsert(spark, src,
      (0L until 40L).filter(_ % 4 == 0).map(i => (i, s"y$i", 1L))
        .toDF("id", "s", "version"), Seq("id"), "version")
    replicate()
    // mutate AFTER the first replication pass: update + tombstone
    TxTable.upsert(spark, src,
      (0L until 40L).filter(_ % 10 == 0).map(i => (i, s"z$i", 2L))
        .toDF("id", "s", "version"), Seq("id"), "version")
    TxTable.upsert(spark, src,
      (0L until 40L).filter(_ % 7 == 3).map(i => (i, s"d$i", 3L))
        .toDF("id", "s", "version").withColumn("op", lit("d")),
      Seq("id"), "version", opCol = Some("op"))
    replicate()
    val live = TxTable.read(spark, src).select("id", "s")
      .as[(Long, String)].collect().toSet
    val replica = TxTable.read(spark, rep).select("id", "s")
      .as[(Long, String)].collect().toSet
    assert(replica === live,
      "replica == source live rows after updates and deletes")
  }

  test("batch writer layout options: partitionCols + bloomCols") {
    val dir = tmp()
    val t = s"$dir/t"
    (0L until 100L).map(i => (i, (i % 4).toString, i * 2))
      .toDF("id", "bucket", "x")
      .write.format("txtable")
      .option("partitionCols", "bucket").option("bloomCols", "id")
      .save(t)
    // .partitionBy is honored too (the V1 fallback encodes it as the
    // __partition_columns option — dropping it silently would write a
    // flat commit the user believes partitioned)
    val t2 = s"$dir/t2"
    (0L until 40L).map(i => (i, (i % 4).toString, i * 2))
      .toDF("id", "bucket", "x")
      .write.format("txtable").partitionBy("bucket").save(t2)
    assert(new java.io.File(s"$t2/data/c0").listFiles()
      .map(_.getName).count(_.startsWith("bucket=")) === 4,
      ".partitionBy lays the commit out hive-style")
    val commitDir = new java.io.File(s"$t/data/c0")
    assert(commitDir.listFiles().map(_.getName).count(_.startsWith("bucket=")) === 4,
      "commit laid out hive-style per partitionCols option")
    // and appends through the writer keep the layout
    (100L until 120L).map(i => (i, (i % 4).toString, i * 2))
      .toDF("id", "bucket", "x")
      .write.format("txtable").mode("append")
      .option("partitionCols", "bucket")
      .save(t)
    assert(TxTable.read(spark, t).count() === 120L)
    assert(new java.io.File(s"$t/data/c1").listFiles()
      .map(_.getName).count(_.startsWith("bucket=")) === 4)
  }

  test("two sinks into one table: checkpoint-scoped markers, no skipped batches") {
    val dir = tmp()
    val t = s"$dir/t"
    // both streams run their batch 0 against the same table — before the
    // checkpoint-scoped markers, sink B's batch 0 would see sink A's
    // bare `b0` marker and silently SKIP its own first batch
    def sinkOnce(tag: String, keys: Seq[(Long, String, Long)]): Unit = {
      keys.toDF("k", "payload", "v")
        .coalesce(1).write.parquet(s"$dir/in_$tag/f0")
      val schema = spark.read.parquet(s"$dir/in_$tag/f0").schema
      val q = spark.readStream.schema(schema).parquet(s"$dir/in_$tag/*")
        .writeStream.format("txtable")
        .option("keys", "k").option("versionCol", "v")
        .option("checkpointLocation", s"$dir/cp_$tag")
        .start(t)
      try q.processAllAvailable() finally q.stop()
    }
    sinkOnce("a", (1L to 20L).map(k => (k, "a", 1L)))
    sinkOnce("b", (21L to 40L).map(k => (k, "b", 1L)))
    val m = TxTable.read(spark, t).select("k", "payload")
      .as[(Long, String)].collect().toMap
    assert(m.size === 40, s"both sinks' batches landed (got ${m.size})")
    assert((1L to 20L).forall(m(_) == "a") && (21L to 40L).forall(m(_) == "b"))
    // and each stream's own replay shortcut still works
    sinkOnce("a2", Seq((100L, "c", 1L)))
    assert(TxTable.read(spark, t).count() === 41L)
  }

  test("SQL metadata tables: t$history and t$cursors") {
    val dir = tmp()
    val wh = s"$dir/wh"
    val t = s"$wh/orders"
    TxTable.create(spark, t,
      (0L until 30L).map(i => (i, i * 10L, 0L)).toDF("id", "amt", "version"))
    TxTable.upsert(spark, t,
      (0L until 30L).filter(_ % 3 == 0).map(i => (i, i * 11L, 1L))
        .toDF("id", "amt", "version"), Seq("id"), "version")
    TxTable.registerCursor(t, "mv_daily", 0L)
    spark.conf.set("spark.sql.catalog.graft_meta",
      "graft.sources.txtable.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_meta.warehouse", wh)
    try {
      val hist = spark.sql("SELECT * FROM graft_meta.`orders$history` ORDER BY commit")
      val expected = TxTable.history(spark, t).orderBy(col("commit"))
      assert(hist.collect().toSeq === expected.collect().toSeq,
        "SQL $history == TxTable.history")
      assert(hist.count() === 2L)
      val cur = spark.sql(
        "SELECT consumer, cursor FROM graft_meta.`orders$cursors`").collect()
      assert(cur.map(r => (r.getString(0), r.getLong(1))).toSeq ===
        Seq(("mv_daily", 0L)))
      // WHERE over a metadata table plans like any DataFrame
      assert(spark.sql(
        "SELECT count(*) FROM graft_meta.`orders$history` WHERE n_deleted > 0")
        .head().getLong(0) === 1L)
      // a metadata suffix on a missing base table stays loud
      val ex = intercept[Exception] {
        spark.sql("SELECT * FROM graft_meta.`nope$history`").collect()
      }
      assert(ex.getMessage.toLowerCase.contains("table"))
    } finally {
      TxTable.unregisterCursor(t, "mv_daily")
      spark.conf.unset("spark.sql.catalog.graft_meta")
      spark.conf.unset("spark.sql.catalog.graft_meta.warehouse")
    }
  }
}
