package graft

import graft.sources.{Fs, TxTable}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Streaming CDC into the transactional merge-on-read table through
 * `writeStream.format("txtable")`: each micro-batch is one atomic
 * TxTable commit (batch-sized writes, never a generation rewrite),
 * correct under replay both through the (stream tag, batch id) record
 * its commit marker carries — which the log fold keeps — and through the
 * merge's latest-wins absorption, with in-stream log folding.
 */
class TxUpsertSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeBatches(base: String): Unit = {
    (1L to 50L).map(k => (k, "a", 1L, "u")).toDF("k", "payload", "v", "op")
      .coalesce(1).write.parquet(s"$base/in/f0")
    ((1L to 10L).map(k => (k, "x", 2L, "d")) ++
      (41L to 60L).map(k => (k, "b", 2L, "u")))
      .toDF("k", "payload", "v", "op")
      .coalesce(1).write.parquet(s"$base/in/f1")
    Seq((5L, "c", 3L, "u")).toDF("k", "payload", "v", "op")
      .coalesce(1).write.parquet(s"$base/in/f2")
  }

  /** The batches under `base/in`, one file per trigger, streamed into
    * the txtable sink at `base/t` with `opts`. */
  private def sink(base: String, ckpt: String, opts: (String, String)*) = {
    val schema = spark.read.parquet(s"$base/in/f0").schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in/*")
      .writeStream.format("txtable").option("checkpointLocation", ckpt)
      .options(opts.toMap).start(s"$base/t")
  }

  private def drain(base: String, ckpt: String, every: Int = 0): Unit = {
    val q = sink(base, ckpt, "keys" -> "k", "versionCol" -> "v",
      "opCol" -> "op", "checkpointEvery" -> every.toString)
    try q.processAllAvailable() finally q.stop()
  }

  /** Forget the stream's newest offset commit, as a crash after the
    * sink's commit and before Spark's would: a restart replays it. */
  private def dropLastCommit(ckpt: String): Long = {
    val commits = new java.io.File(s"$ckpt/commits")
    val last = commits.list().filter(n => n.nonEmpty && n.forall(_.isDigit))
      .map(_.toLong).max
    assert(new java.io.File(commits, s"$last").delete())
    // the local FS shadows every file with a .crc checksum — one left
    // behind fails the replayed commit's rename
    new java.io.File(commits, s".$last.crc").delete()
    last
  }

  private def rows(base: String) =
    TxTable.read(spark, s"$base/t").orderBy("k", "v").collect().toSeq

  private def state(base: String): Map[Long, (String, Long)] =
    TxTable.read(spark, s"$base/t")
      .select("k", "payload", "v").as[(Long, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  private def assertFinal(m: Map[Long, (String, Long)]): Unit = {
    assert(m.size === 51, s"expected 51 live keys, got ${m.size}")
    assert((1L to 4L).forall(k => !m.contains(k)) &&
      (6L to 10L).forall(k => !m.contains(k)), "tombstoned keys stay dead")
    assert(m(5L) === ("c", 3L), "higher-version re-insert beats the tombstone")
    assert((11L to 40L).forall(k => m(k) === ("a", 1L)), "untouched keys survive")
    assert((41L to 60L).forall(k => m(k) === ("b", 2L)), "CDC upserts apply")
  }

  test("streamed CDC == the batch MERGE; each micro-batch one atomic commit") {
    val base = java.nio.file.Files.createTempDirectory("graft-txs").toString
    writeBatches(base)
    drain(base, s"$base/ckpt")
    val t = s"$base/t"
    assertFinal(state(base))
    assert(!TxTable.read(spark, t).columns.contains("op"),
      "op is transport metadata — it must not persist")
    // create (empty c0) + one commit per micro-batch, nothing more: the
    // write volume is the batch, never a table rewrite
    assert(TxTable.committedIds(t).size === 4,
      s"expected empty-create + 3 batch commits, got ${TxTable.committedIds(t)}")
    // time travel still works mid-stream: after batch 0 only the base load
    val at1 = TxTable.readAt(spark, t, 1L)
    assert(at1.count() === 50L)
  }

  test("replay via the commit's stream record AND via merge absorption is a no-op") {
    val base = java.nio.file.Files.createTempDirectory("graft-txsr").toString
    writeBatches(base)
    drain(base, s"$base/ckpt1")
    val before = rows(base)
    val commits1 = TxTable.committedIds(s"$base/t")
    // SAME-STREAM replay of a committed batch: the (tag, batch) record
    // in its commit marker skips the re-application — no new commit
    val tag1 = Streams.streamTag(s"$base/ckpt1")
    val lastBatch = spark.read.parquet(s"$base/in/f2")
    Streams.txUpsertBatch(spark, s"$base/t", lastBatch, 2L,
      Seq("k"), "v", Some("op"), 0, Nil, Nil, false, 60000L, tag1)
    assert(TxTable.committedIds(s"$base/t") === commits1,
      "a recorded batch of the SAME stream must not commit again")
    // a DIFFERENT stream (fresh checkpoint = new tag — bare batch ids
    // would let stream A's records silently eat stream B's batches)
    // re-applies every batch; the latest-wins MERGE absorbs them as
    // snapshot no-ops: same data, empty commits
    drain(base, s"$base/ckpt2")
    assert(rows(base) === before, "cross-stream replay must be a snapshot no-op")
    // Spark's own replay: batch 2 committed, its offset commit lost —
    // the restarted stream finds its record under ckpt2's commits and
    // lands nothing
    val commits2 = TxTable.committedIds(s"$base/t")
    val replayed = dropLastCommit(s"$base/ckpt1")
    drain(base, s"$base/ckpt1")
    assert(new java.io.File(s"$base/ckpt1/commits/$replayed").exists,
      "the restart must have replayed the batch")
    assert(TxTable.committedIds(s"$base/t") === commits2,
      "a replay after the commit, before the offset commit, must land no commit")
    assert(rows(base) === before)
    assertFinal(state(base))
  }

  test("a replay of a batch whose commit was folded and expired lands no commit") {
    val base = java.nio.file.Files.createTempDirectory("graft-txsf").toString
    writeBatches(base)
    val ckpt = s"$base/ckpt"
    drain(base, ckpt, every = 2)
    val t = s"$base/t"
    // batch 2, the last, is a fold cadence: its commit is folded into
    // the checkpoint and expired, so the checkpoint's marker is the only
    // one left to carry the batch's record
    val ids = TxTable.committedIds(t)
    assert(ids.size == 1 && ids == TxTable.checkpointIds(t),
      s"expected the checkpoint alone, got commits $ids")
    val before = rows(base)
    assert(dropLastCommit(ckpt) == 2L)
    drain(base, ckpt, every = 2)
    assert(new java.io.File(s"$ckpt/commits/2").exists,
      "the restart must have replayed batch 2")
    assert(TxTable.committedIds(t) == ids, "the replay must land no commit")
    assert(rows(base) == before)
    assertFinal(state(base))
  }

  test("checkpointEvery folds the log in-stream; reads stay checkpoint + tail") {
    val base = java.nio.file.Files.createTempDirectory("graft-txsc").toString
    writeBatches(base)
    Seq((70L, "e", 4L, "u")).toDF("k", "payload", "v", "op")
      .coalesce(1).write.parquet(s"$base/in/f3")
    drain(base, s"$base/ckpt", every = 2)
    val t = s"$base/t"
    assert(TxTable.checkpointIds(t).nonEmpty,
      "the in-stream fold must have produced a committed checkpoint")
    val m = state(base)
    assert(m.size === 52 && m(70L) === ("e", 4L))
    assertFinal(m - 70L)
    // history below the fold is expired; the read resolves from it
    val cp = TxTable.checkpointIds(t).last
    val dataInputs = TxTable.read(spark, t).inputFiles.filter(_.contains("/data/"))
    assert(dataInputs.nonEmpty && dataInputs.forall { f =>
      TxTable.committedIds(t).filter(_ >= cp)
        .exists(id => f.contains(s"/data/c$id/"))
    }, "reads must resolve checkpoint + tail only")
    // the replay records ride in the commit markers: no file beside them
    assert(!Fs.exists(s"$t/_txn/stream"), "no stream replay dir may exist")
  }

  test("partitionCols lays every streamed commit out hive-style") {
    val base = java.nio.file.Files.createTempDirectory("graft-txsp").toString
    // payload doubles as the partition column in this fixture
    writeBatches(base)
    val q = sink(base, s"$base/ckpt", "keys" -> "k", "versionCol" -> "v",
      "opCol" -> "op", "partitionCols" -> "payload")
    try q.processAllAvailable() finally q.stop()
    assertFinal(state(base))
    // the empty create (c0) is flat — the schema carrier; every
    // DATA-bearing commit after it is hive-partitioned on payload
    val t = s"$base/t"
    val dataDirs = TxTable.committedIds(t).map(id => s"$t/data/c$id")
      .filter(Fs.isDirectory(_))
    val parted = dataDirs.tail.filter(d =>
      Fs.listFiles(d).exists(f => f.getPath.getName.endsWith(".parquet") &&
        f.getLen > 0) || Fs.listDirs(d).nonEmpty)
    assert(parted.nonEmpty)
    parted.foreach { d =>
      val sub = Fs.listDirs(d).map(_.getPath.getName)
      assert(sub.nonEmpty && sub.forall(_.startsWith("payload=")),
        s"streamed commit $d must be hive-partitioned: $sub")
    }
    // partition pruning reaches the streamed commits
    val plan = TxTable.read(spark, t).filter(col("payload") === "b")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }

  test("sink-vs-batch-writer race converges under conflictDetect (round 19)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = java.nio.file.Files.createTempDirectory("graft-txsr").toString
    val t = s"$base/t"
    // batch 0 seeds keys 1..50; batches 1..3 reprice keys 1..10 at
    // versions 10/20/30 — while a CONCURRENT batch writer OCC-upserts
    // the same keys at interleaved versions 15/25/35. Every serial
    // order of {sink batches, batch commits} converges per key to the
    // MAX version (all versions are globally distinct); what the race
    // must never produce is a duplicate live row or a lost update.
    (1L to 50L).map(k => (k, "seed", 1L)).toDF("k", "payload", "v")
      .coalesce(1).write.parquet(s"$base/in/f0")
    (1 to 3).foreach { b =>
      (1L to 10L).map(k => (k, s"sink$b", b * 10L)).toDF("k", "payload", "v")
        .coalesce(1).write.parquet(s"$base/in/f$b")
    }
    val q = sink(base, s"$base/ckpt", "keys" -> "k", "versionCol" -> "v",
      "conflictDetect" -> "true", "conflictWaitMs" -> "180000")
    val batcher = Future {
      // wait until the sink created the table, then race it
      val deadline = System.currentTimeMillis() + 60000
      while (TxTable.committedIds(t).isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      Seq(15L, 25L, 35L).map { v =>
        TxTable.upsert(spark, t,
          (1L to 10L).map(k => (k, s"batch$v", v)).toDF("k", "payload", "v"),
          Seq("k"), "v", conflictDetect = true, conflictWaitMs = 180000L)
      }
    }
    try {
      q.processAllAvailable()
      Await.result(batcher, 10.minutes)
      q.processAllAvailable()
    } finally q.stop()
    val got = TxTable.read(spark, t)
      .select("k", "payload", "v").as[(Long, String, Long)].collect()
    assert(got.length === 50, s"no duplicate live rows: ${got.length}")
    val byKey = got.map(r => r._1 -> ((r._2, r._3))).toMap
    (1L to 10L).foreach { k =>
      assert(byKey(k) === (("batch35", 35L)),
        s"key $k must converge to the max version: ${byKey(k)}")
    }
    (11L to 50L).foreach(k => assert(byKey(k) === (("seed", 1L))))
  }
}
