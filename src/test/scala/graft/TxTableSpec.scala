package graft

import graft.sources.{Fs, ParquetIO, TxTable}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Local store whose listings carry one made-up block location per
  * file, host `dn1`, as an HDFS listing with locations does. */
class LocatedListingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{BlockLocation, FileStatus, LocatedFileStatus, Path}
  override def getScheme: String = "locatedls"
  override def getUri: java.net.URI = java.net.URI.create("locatedls:///")
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map { st =>
    if (st.isDirectory) st
    else new LocatedFileStatus(st.getLen, false, 1, st.getBlockSize, st.getModificationTime,
      0L, null, null, null, null, st.getPath,
      Array(new BlockLocation(Array("dn1:9866"), Array("dn1"), 0L, st.getLen)))
  }
}

/**
 * Transactional merge-on-read table (round 16): create-once commit
 * markers gate adds AND deletes atomically; upsert == copy-on-write
 * MERGE semantics (engine-vs-engine parity with ParquetIO.upsert);
 * time travel; crashed commits invisible and vacuumable.
 */
class TxTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-tx").toString

  private def base(n: Int = 1000) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name$i", 100.0 + i, 0L))
      .toDF("id", "name", "price", "version")
  }

  test("create + read round-trips the initial snapshot") {
    val t = tmp() + "/t"
    assert(TxTable.create(spark, t, base()) === 0L)
    val got = TxTable.read(spark, t)
    assert(got.count() === 1000L)
    assert(got.columns.toSeq === Seq("id", "name", "price", "version"))
    assert(TxTable.committedIds(t) === Seq(0L))
  }

  test("upsert == ParquetIO.upsert on the same CDC batch (u/i/d, latest-wins)") {
    import spark.implicits._
    val dir = tmp()
    val b = base()
    b.write.parquet(s"$dir/base")
    // updates for %10==0, inserts under negated keys, tombstones %10==5,
    // plus an in-batch version race on id 40 (v2 must beat v1)
    val upd = b.filter(col("id") % 10 === 0)
      .withColumn("price", col("price") + 1000.0)
      .withColumn("version", lit(1L)).withColumn("op", lit("u"))
      .unionByName(b.filter(col("id") % 10 === 1)
        .withColumn("id", -col("id") - 1L)
        .withColumn("version", lit(1L)).withColumn("op", lit("u")))
      .unionByName(b.filter(col("id") % 10 === 5)
        .withColumn("version", lit(1L)).withColumn("op", lit("d")))
      .unionByName(Seq((40L, "name40", 9999.0, 2L, "u"))
        .toDF("id", "name", "price", "version", "op"))
    upd.write.parquet(s"$dir/upd")

    val t = s"$dir/t"
    TxTable.create(spark, t, b)
    TxTable.upsert(spark, t, spark.read.parquet(s"$dir/upd"),
      Seq("id"), "version", opCol = Some("op"))

    ParquetIO.upsert(spark, Seq(s"$dir/base"), Seq(s"$dir/upd"),
      s"$dir/cow", Seq("id"), "version", targetFileBytes = 256L * 1024,
      opCol = Some("op"))
    val cow = spark.read.parquet(s"$dir/cow")
      .select("id", "name", "price", "version").orderBy("id").collect().toSeq
    val mor = TxTable.read(spark, t)
      .select("id", "name", "price", "version").orderBy("id").collect().toSeq
    assert(mor === cow, "merge-on-read snapshot must equal the copy-on-write MERGE")
    // and the in-batch race really resolved to v2
    assert(TxTable.read(spark, t).filter(col("id") === 40L)
      .head.getDouble(2) === 9999.0)
  }

  test("a later upsert kills rows added by an earlier one") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))
    TxTable.upsert(spark, t,
      Seq((7L, "name7", 1111.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    TxTable.upsert(spark, t,
      Seq((7L, "name7", 2222.0, 2L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    val got = TxTable.read(spark, t)
    assert(got.count() === 100L)
    assert(got.filter(col("id") === 7L).collect().map(_.getDouble(2)).toSeq
      === Seq(2222.0))
  }

  test("time travel: a later commit's adds AND deletes vanish together") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))                       // c0
    TxTable.upsert(spark, t,
      Seq((3L, "name3", 7777.0, 1L, "u"), (4L, "x", 0.0, 1L, "d"))
        .toDF("id", "name", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))               // c1
    val at0 = TxTable.readAt(spark, t, 0L)
    assert(at0.count() === 100L)
    assert(at0.filter(col("id") === 3L).head.getDouble(2) === 103.0)
    assert(at0.filter(col("id") === 4L).count() === 1L, "pre-delete row visible at c0")
    val now = TxTable.read(spark, t)
    assert(now.count() === 99L)
    assert(now.filter(col("id") === 3L).head.getDouble(2) === 7777.0)
  }

  test("uncommitted commit is invisible; vacuum sweeps it once superseded") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))
    val k = TxTable.upsert(spark, t,
      Seq((5L, "name5", 5555.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    // simulate a crash BEFORE the marker: remove the commit bit
    Fs.deleteIfExists(s"$t/_txn/commits/c$k")
    val got = TxTable.read(spark, t)
    assert(got.count() === 100L)
    assert(got.filter(col("id") === 5L).head.getDouble(2) === 105.0,
      "an unmarked commit's adds AND deletes must both be invisible")
    // a newer commit supersedes the crashed id → vacuum may sweep it
    TxTable.append(spark, t,
      Seq((1000L, "new", 1.0, 0L)).toDF("id", "name", "price", "version"))
    // default-grace vacuum protects seconds-old litter (it cannot tell a
    // crash from an in-flight writer whose commit will land) ...
    assert(TxTable.vacuum(spark, t).isEmpty,
      "a grace-window vacuum must keep young uncommitted artifacts")
    // ... graceMs = 0 is the writers-quiesced sweep the fixture simulates
    val swept = TxTable.vacuum(spark, t, graceMs = 0L)
    assert(swept.exists(_.endsWith(s"/data/c$k")) &&
      swept.exists(_.endsWith(s"/_txn/dv/$k")))
    assert(!Fs.isDirectory(s"$t/data/c$k") && !Fs.isDirectory(s"$t/_txn/dv/$k"))
    assert(TxTable.read(spark, t).count() === 101L)
    // and the crashed id was never reused
    assert(!TxTable.committedIds(t).contains(k))
  }

  test("checkpoint folds the log; reads resolve checkpoint + tail only") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))                                  // c0
    TxTable.upsert(spark, t,
      Seq((1L, "name1", 1111.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")                                              // c1
    TxTable.upsert(spark, t,
      Seq((2L, "name2", 2222.0, 1L, "u"), (3L, "x", 0.0, 1L, "d"))
        .toDF("id", "name", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))                          // c2
    val cp = TxTable.checkpoint(spark, t)                                // c3
    TxTable.upsert(spark, t,
      Seq((5L, "name5", 5555.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")                                              // c4
    assert(TxTable.checkpointIds(t) === Seq(cp))
    val now = TxTable.read(spark, t)
    assert(now.count() === 99L)
    assert(now.filter(col("id") === 1L).head.getDouble(2) === 1111.0)
    assert(now.filter(col("id") === 5L).head.getDouble(2) === 5555.0)
    // the read PLAN touches only checkpoint + tail data files (the DV
    // sidecar scan also appears in inputFiles — not a data dir)
    val dataInputs = now.inputFiles.filter(_.contains("/data/"))
    assert(dataInputs.nonEmpty && dataInputs.forall(f =>
      f.contains(s"/data/c$cp/") || f.contains(s"/data/c${cp + 1}/")),
      s"read must resolve from the checkpoint forward:\n${dataInputs.mkString("\n")}")
    // history below the checkpoint still time-travels before expire
    val at1 = TxTable.readAt(spark, t, 1L)
    assert(at1.count() === 100L)
    assert(at1.filter(col("id") === 2L).head.getDouble(2) === 102.0)
  }

  test("expire collapses history below the checkpoint; live snapshot intact") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))                                  // c0
    TxTable.upsert(spark, t,
      Seq((9L, "name9", 9999.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")                                              // c1
    val cp = TxTable.checkpoint(spark, t)                                // c2
    val before = TxTable.read(spark, t).orderBy("id").collect().toSeq
    val expired = TxTable.expire(spark, t)
    assert(expired === Seq(0L, 1L))
    assert(TxTable.read(spark, t).orderBy("id").collect().toSeq === before)
    assert(!Fs.isDirectory(s"$t/data/c0") && !Fs.isDirectory(s"$t/data/c1"))
    assert(TxTable.committedIds(t).head === cp)
    intercept[IllegalArgumentException](TxTable.readAt(spark, t, 1L))
    // idempotent: nothing further to expire
    assert(TxTable.expire(spark, t) === Seq.empty)
  }

  test("a crashed checkpoint resolves to nothing and vacuums away") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(50))                                   // c0
    val k = TxTable.checkpoint(spark, t)                                 // c1
    // crash AFTER the checkpoint marker but BEFORE the commit marker
    Fs.deleteIfExists(s"$t/_txn/commits/c$k")
    assert(TxTable.checkpointIds(t).isEmpty,
      "a checkpoint marker without its commit marker must resolve to nothing")
    assert(TxTable.read(spark, t).count() === 50L)
    TxTable.append(spark, t,
      Seq((500L, "new", 1.0, 0L)).toDF("id", "name", "price", "version")) // tip
    val swept = TxTable.vacuum(spark, t, graceMs = 0L)
    assert(swept.exists(_.endsWith(s"/data/c$k")))
    assert(swept.exists(_.endsWith(s"/_txn/checkpoints/c$k")))
    assert(TxTable.read(spark, t).count() === 51L)
  }

  test("readSkipping: a stale manifest costs performance, never correctness") {
    import spark.implicits._
    val t = tmp() + "/t"
    val df = (0 until 10000).map(i => (i.toLong, 100.0 + i, 0L))
      .toDF("id", "price", "version")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
    TxTable.create(spark, t, df)                                       // c0
    TxTable.buildManifest(spark, t, Seq("id"))
    def expect(): Seq[org.apache.spark.sql.Row] =
      TxTable.read(spark, t).filter(col("id") >= 2000L && col("id") <= 2999L)
        .orderBy("id").collect().toSeq
    val skim = TxTable.readSkipping(spark, t, "id", 2000L, 2999L)
    assert(skim.orderBy("id").collect().toSeq === expect())
    val dataFiles = skim.inputFiles.filter(_.contains("/data/"))
    assert(dataFiles.nonEmpty && dataFiles.length < 8,
      s"manifest must cut the 8-file sorted layout (kept ${dataFiles.length})")
    // files committed AFTER the manifest build: a reprice upsert whose
    // new file the stale manifest knows nothing about — MUST be kept
    TxTable.upsert(spark, t,
      (2000 until 2100).map(i => (i.toLong, 9000.0 + i, 1L))
        .toDF("id", "price", "version"),
      Seq("id"), "version")                                            // c1
    val stale = TxTable.readSkipping(spark, t, "id", 2000L, 2999L)
    assert(stale.orderBy("id").collect().toSeq === expect(),
      "stale-manifest skip must equal the live read — unknown files kept")
    assert(stale.filter(col("id") === 2050L).head.getDouble(1) === 11050.0)
    // rebuilding the manifest restores pruning over the new layout too
    TxTable.buildManifest(spark, t, Seq("id"))
    val fresh = TxTable.readSkipping(spark, t, "id", 2000L, 2999L)
    assert(fresh.orderBy("id").collect().toSeq === expect())
  }

  test("replaying an identical batch leaves the live snapshot unchanged") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))
    val batch = Seq((6L, "name6", 6666.0, 1L, "u"), (7L, "x", 0.0, 1L, "d"))
      .toDF("id", "name", "price", "version", "op")
    TxTable.upsert(spark, t, batch, Seq("id"), "version", opCol = Some("op"))
    val once = TxTable.read(spark, t).orderBy("id").collect().toSeq
    // at-least-once delivery: the SAME batch lands again (a new commit
    // id — the log records the replay, the snapshot must not move)
    TxTable.upsert(spark, t, batch, Seq("id"), "version", opCol = Some("op"))
    val twice = TxTable.read(spark, t).orderBy("id").collect().toSeq
    assert(twice === once,
      "an identical replayed batch must be a snapshot no-op")
    assert(twice.length === 99)
  }

  test("two interleaved writers: loser claims a fresh id, neither clobbers") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))                                  // c0
    // writer B is in flight: it claimed id 1 but hasn't written yet
    assert(Fs.createMarker(s"$t/_txn/claims/c1", "writer-B"))
    // writer A lands concurrently — it must NOT take the claimed id 1
    val ka = TxTable.upsert(spark, t,
      Seq((5L, "name5", 5555.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    assert(ka === 2L, "a claimed id must never be reused by a racer")
    // writer B now finishes: its data dir was never touched by A
    Seq((1000L, "fromB", 1.0, 0L)).toDF("id", "name", "price", "version")
      .write.parquet(s"$t/data/c1")
    TxTable.commit(t, 1L)
    val got = TxTable.read(spark, t)
    assert(got.count() === 101L)
    assert(got.filter(col("id") === 5L).head.getDouble(2) === 5555.0)
    assert(got.filter(col("id") === 1000L).count() === 1L,
      "both racing writers' commits must survive intact")
    assert(TxTable.committedIds(t) === Seq(0L, 1L, 2L))
  }

  test("REAL concurrent writers: every commit survives, ids never collide") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))
    // 6 threads × 4 appends each, racing the claim protocol for real —
    // plus 2 threads upserting DISJOINT key ranges (the documented-safe
    // multi-writer premise)
    val appends = (0 until 6).map { th =>
      Future {
        (0 until 4).foreach { i =>
          TxTable.append(spark, t,
            Seq((10000L + th * 100 + i, s"t$th-$i", 1.0, 0L))
              .toDF("id", "name", "price", "version"))
        }
      }
    }
    val upserts = (0 until 2).map { th =>
      Future {
        (0 until 3).foreach { v =>
          TxTable.upsert(spark, t,
            Seq((th.toLong, s"u$th", 100.0 * th + v, v.toLong + 1L))
              .toDF("id", "name", "price", "version"),
            Seq("id"), "version")
        }
      }
    }
    Await.result(Future.sequence(appends ++ upserts), 10.minutes)
    val ids = TxTable.committedIds(t)
    assert(ids.size === 1 + 24 + 6, s"every writer's commit must survive: $ids")
    assert(ids.distinct.size === ids.size, "commit ids must never collide")
    val got = TxTable.read(spark, t)
    assert(got.count() === 124L, "100 base + 24 appended rows")
    // every append's row is present — nobody's data dir was clobbered
    assert(got.filter(col("id") >= 10000L).count() === 24L)
    // each upserted key converged to ITS thread's max version
    (0 until 2).foreach { th =>
      val r = got.filter(col("id") === th.toLong).collect()
      assert(r.length === 1 && r.head.getLong(3) === 3L,
        s"thread $th's key must hold its latest version: ${r.toSeq}")
    }
    // no claim was left unredeemed by a SUCCESSFUL writer
    assert(TxTable.vacuum(spark, t).isEmpty,
      "successful concurrent writers must leave no litter")
  }

  test("an out-of-band commit marker fails the commit loudly") {
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(10))
    assert(Fs.createMarker(s"$t/_txn/commits/c9", "intruder"))
    intercept[IllegalArgumentException](TxTable.commit(t, 9L))
  }

  test("vacuum sweeps unredeemed claims below the tip, keeps in-flight ones") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(10))                                   // c0
    assert(Fs.createMarker(s"$t/_txn/claims/c1", "crashed"))             // dead
    TxTable.append(spark, t,
      Seq((50L, "x", 1.0, 0L)).toDF("id", "name", "price", "version"))   // c2
    assert(Fs.createMarker(s"$t/_txn/claims/c3", "in-flight"))           // live
    val swept = TxTable.vacuum(spark, t, graceMs = 0L)
    assert(swept.exists(_.endsWith("/_txn/claims/c1")))
    assert(!Fs.exists(s"$t/_txn/claims/c1"))
    assert(Fs.exists(s"$t/_txn/claims/c3"),
      "a claim above the committed tip may be an in-flight writer")
  }

  test("a late CDC batch at an older version never regresses live data") {
    import spark.implicits._
    val dir = tmp()
    val t = s"$dir/t"
    TxTable.create(spark, t, base(100))
    TxTable.upsert(spark, t,
      Seq((5L, "name5", 5555.0, 2L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    // out-of-order replays: an older update AND an older tombstone
    TxTable.upsert(spark, t,
      Seq((5L, "stale", 1.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    TxTable.upsert(spark, t,
      Seq((5L, "stale", 1.0, 1L, "d")).toDF("id", "name", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))
    val got = TxTable.read(spark, t)
    assert(got.count() === 100L)
    assert(got.filter(col("id") === 5L).collect().map(_.getDouble(2)).toSeq
      === Seq(5555.0), "live v2 must survive late v1 update and tombstone")
    // and copy-on-write agrees: same three batches through ParquetIO.upsert
    base(100).write.parquet(s"$dir/g0")
    Seq((5L, "name5", 5555.0, 2L, "u"), (5L, "stale", 1.0, 1L, "u"),
        (5L, "stale", 1.0, 1L, "d"))
      .toDF("id", "name", "price", "version", "op").write.parquet(s"$dir/upd")
    ParquetIO.upsert(spark, Seq(s"$dir/g0"), Seq(s"$dir/upd"), s"$dir/cow",
      Seq("id"), "version", targetFileBytes = 256L * 1024, opCol = Some("op"))
    val cow = spark.read.parquet(s"$dir/cow")
      .select("id", "name", "price", "version").orderBy("id").collect().toSeq
    val mor = TxTable.read(spark, t)
      .select("id", "name", "price", "version").orderBy("id").collect().toSeq
    assert(mor === cow)
  }

  test("upsert parity holds through the shuffled (non-broadcast) fallback") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(200))
    val batch = Seq((3L, "n3", 333.0, 1L, "u"), (4L, "x", 0.0, 1L, "d"),
        (900L, "ins", 9.0, 1L, "u"))
      .toDF("id", "name", "price", "version", "op")
    // broadcastKeyLimit=0 forces the shuffled contested-row join
    TxTable.upsert(spark, t, batch, Seq("id"), "version",
      opCol = Some("op"), broadcastKeyLimit = 0L)
    val got = TxTable.read(spark, t)
    assert(got.count() === 200L) // -1 tombstone +1 insert
    assert(got.filter(col("id") === 3L).head.getDouble(2) === 333.0)
    assert(got.filter(col("id") === 4L).count() === 0L)
    assert(got.filter(col("id") === 900L).count() === 1L)
  }

  test("checkpoint sizing follows the resolution set, not all history") {
    import spark.implicits._
    val t = tmp() + "/t"
    // ~large enough that file counts reflect the byte math
    val df = (0 until 20000).map(i => (i.toLong, s"name$i" * 8, 100.0 + i, 0L))
      .toDF("id", "name", "price", "version").repartition(8)
    TxTable.create(spark, t, df)
    val cp1 = TxTable.checkpoint(spark, t, targetFileBytes = 128L * 1024)
    val n1 = Fs.listFiles(s"$t/data/c$cp1")
      .count(_.getPath.getName.endsWith(".parquet"))
    // NO expire: superseded history (c0) must not inflate the next fold
    val cp2 = TxTable.checkpoint(spark, t, targetFileBytes = 128L * 1024)
    val n2 = Fs.listFiles(s"$t/data/c$cp2")
      .count(_.getPath.getName.endsWith(".parquet"))
    assert(n2 <= n1 + 1,
      s"second checkpoint wrote $n2 files vs $n1 — superseded bytes counted?")
  }

  test("schema evolution: commits reconcile by name, time travel keeps old shape") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))                                  // c0
    // c1 adds a column the table never had
    TxTable.upsert(spark, t,
      Seq((5L, "name5", 5555.0, 1L, "eu")).toDF(
        "id", "name", "price", "version", "region"),
      Seq("id"), "version")                                              // c1
    val got = TxTable.read(spark, t)
    assert(got.columns.toSeq === Seq("id", "name", "price", "version", "region"))
    assert(got.count() === 100L)
    assert(got.filter(col("id") === 5L).head.getString(4) === "eu")
    assert(got.filter(col("id") === 6L).head.isNullAt(4),
      "pre-evolution rows carry null for the added column")
    // a batch MISSING a column: appended rows null-fill on read
    TxTable.upsert(spark, t,
      Seq((7L, 7777.0, 2L)).toDF("id", "price", "version"),
      Seq("id"), "version")                                              // c2
    val r7 = TxTable.read(spark, t).filter(col("id") === 7L).head
    assert(r7.getDouble(2) === 7777.0 && r7.isNullAt(1) && r7.isNullAt(4))
    // time travel below the evolution sees the ORIGINAL schema
    assert(TxTable.readAt(spark, t, 0L).columns.toSeq
      === Seq("id", "name", "price", "version"))
    // checkpoint folds the union schema into one clean commit
    TxTable.checkpoint(spark, t)
    val folded = TxTable.read(spark, t)
    assert(folded.count() === 100L)
    assert(folded.filter(col("id") === 5L).head.getString(4) === "eu")
  }

  test("readSkippingEquality: bloom cut + DV erasure, exact through both") {
    import spark.implicits._
    val t = tmp() + "/t"
    // UNSORTED high-cardinality id: min/max spans make range stats
    // useless, so any file cut is the bloom's doing
    val df = (0 until 8000).map(i => (i.toLong, 100.0 + i, 0L))
      .toDF("id", "price", "version").repartition(8)
    TxTable.create(spark, t, df, bloomCols = Seq("id"))
    TxTable.buildManifest(spark, t, Seq("id"))
    // GDPR-style erasure of one key, recorded only in deletion vectors
    TxTable.upsert(spark, t,
      Seq((4321L, 0.0, 1L, "d")).toDF("id", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))
    val gone = TxTable.readSkippingEquality(spark, t, "id", 4321L)
    assert(gone.count() === 0L,
      "the erased key must return zero rows THROUGH the bloom path")
    val hit = TxTable.readSkippingEquality(spark, t, "id", 1234L)
    assert(hit.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((1234L, 1334.0)))
    // and the bloom actually cut files: 8 round-robin files, one carrier
    val dataInputs = hit.inputFiles.filter(_.contains("/data/"))
    assert(dataInputs.nonEmpty && dataInputs.length < 8,
      s"bloom probe kept ${dataInputs.length} of 8 files — no cut?")
  }

  test("changeFeed: i/u/d per commit; replay reconstructs the snapshot") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(50))                                   // c0
    TxTable.upsert(spark, t,
      Seq((3L, "name3", 3333.0, 1L, "u"), (4L, "x", 0.0, 1L, "d"),
          (600L, "ins", 6.0, 1L, "u"))
        .toDF("id", "name", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))                          // c1
    TxTable.upsert(spark, t,
      Seq((3L, "name3", 9999.0, 2L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")                                              // c2
    val feed = TxTable.changeFeed(spark, t, Seq("id"))
    // c0: 50 inserts; c1: u(3) d(4) i(600); c2: u(3)
    assert(feed.filter(col("commit") === 0L && col("op") === "i").count() === 50L)
    val c1 = feed.filter(col("commit") === 1L)
      .select("id", "op").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(c1 === Set((3L, "u"), (4L, "d"), (600L, "i")))
    assert(feed.filter(col("commit") === 2L)
      .select("id", "op").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((3L, "u")))
    // replay: latest op per key wins, d drops the key → live snapshot
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy(col("commit").desc)
    val replayed = feed
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "d")
      .select("id", "name", "price", "version")
      .orderBy("id").collect().toSeq
    val live = TxTable.read(spark, t)
      .select("id", "name", "price", "version").orderBy("id").collect().toSeq
    assert(replayed === live, "replaying the feed must reconstruct the snapshot")
  }

  test("changeFeed: checkpoint and compactFiles commits are feed-invisible") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(60))                                   // c0
    TxTable.upsert(spark, t,
      Seq((2L, "name2", 2222.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")                                              // c1
    val cp = TxTable.checkpoint(spark, t)                                // c2
    TxTable.upsert(spark, t,
      (0 until 30).map(i => (i.toLong, s"name$i", 0.0, 2L, "d"))
        .toDF("id", "name", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))                          // c3
    val folded = TxTable.compactFiles(spark, t, minDeadFraction = 0.2)   // c4
    assert(folded.nonEmpty)
    val feed = TxTable.changeFeed(spark, t, Seq("id"))
    assert(feed.filter(col("commit") === cp).count() === 0L,
      "a checkpoint supersedes — it must not feed")
    assert(feed.filter(col("commit") === folded.get).count() === 0L,
      "a compaction moves rows unchanged — it must not feed")
    assert(feed.filter(col("commit") === 3L && col("op") === "d").count() === 30L)
  }

  test("compactFiles rewrites only hot files; cold files byte-untouched") {
    import spark.implicits._
    val t = tmp() + "/t"
    // 8 range-partitioned files; deletes target ONE range (skew)
    val df = (0 until 8000).map(i => (i.toLong, 100.0 + i, 0L))
      .toDF("id", "price", "version")
      .repartitionByRange(8, col("id")).sortWithinPartitions("id")
    TxTable.create(spark, t, df)                                         // c0
    // dead range 0..899, but every 100th id survives so no hot file can
    // end up FULLY dead regardless of where the sampled range boundaries
    // landed (a fully-dead-only hot set folds to nothing, by design)
    TxTable.upsert(spark, t,
      (0 until 900).filter(_ % 100 != 0).map(i => (i.toLong, 0.0, 1L, "d"))
        .toDF("id", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))                          // c1
    val before = TxTable.read(spark, t).orderBy("id").collect().toSeq
    val coldBefore = Fs.listFiles(s"$t/data/c0")
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => f.getPath.toString -> (f.getLen, f.getModificationTime)).toMap
    val k = TxTable.compactFiles(spark, t, minDeadFraction = 0.02)
    assert(k.nonEmpty, "the hot file crossed the threshold")
    // parity: the snapshot is unchanged
    assert(TxTable.read(spark, t).orderBy("id").collect().toSeq === before)
    // cold files byte-identical (same length, same mtime — never rewritten)
    val coldAfter = Fs.listFiles(s"$t/data/c0")
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => f.getPath.toString -> (f.getLen, f.getModificationTime)).toMap
    assert(coldAfter === coldBefore, "compactFiles must not touch cold files")
    // the fold moved only the hot file's live rows — range boundaries are
    // sample-approximate, so bound it: far below the 7100 live total
    val moved = spark.read.parquet(s"$t/data/c${k.get}")
    assert(moved.count() >= 1L && moved.count() < 1500L,
      s"expected ~one file's live rows, got ${moved.count()} of 7100")
    // hot file's OLD positions are now fully dead: reads skip its live set
    TxTable.compactFiles(spark, t, minDeadFraction = 0.02)
    assert(TxTable.read(spark, t).orderBy("id").collect().toSeq === before,
      "a second fold (if any) must still preserve the snapshot")
  }

  test("sorted checkpoint restores file-level pruning after unordered CDC") {
    import spark.implicits._
    val t = tmp() + "/t"
    // deliberately UNSORTED create: every file spans the key domain, so
    // the manifest cannot prune anything
    val df = (0 until 10000).map(i => (i.toLong, 100.0 + i, 0L))
      .toDF("id", "price", "version").repartition(8)
    TxTable.create(spark, t, df)
    TxTable.upsert(spark, t,
      (0 until 100).map(i => (i * 97L % 10000, 9.0, 1L))
        .toDF("id", "price", "version").distinct(),
      Seq("id"), "version")
    val expected = TxTable.read(spark, t)
      .filter(col("id") >= 2000L && col("id") <= 2999L)
      .orderBy("id", "version").collect().toSeq
    TxTable.buildManifest(spark, t, Seq("id"))
    val unsorted = TxTable.readSkipping(spark, t, "id", 2000L, 2999L)
    assert(unsorted.inputFiles.count(_.contains("/data/")) >= 8,
      "unsorted layout: the manifest can prove nothing")
    // fold WITH layout: range-sorted checkpoint, manifest rebuilt
    TxTable.checkpoint(spark, t, targetFileBytes = 8L * 1024,
      sortCols = Seq("id"))
    TxTable.expire(spark, t)
    TxTable.buildManifest(spark, t, Seq("id"))
    val sorted = TxTable.readSkipping(spark, t, "id", 2000L, 2999L)
    assert(sorted.orderBy("id", "version").collect().toSeq === expected,
      "the layout pass must not change the snapshot")
    val total = graft.sources.Fs.listFiles(
      s"$t/data/c${TxTable.checkpointIds(t).last}")
      .count(_.getPath.getName.endsWith(".parquet"))
    val kept = sorted.inputFiles.count(_.contains("/data/"))
    assert(total >= 4 && kept < total,
      s"sorted fold must restore pruning (kept $kept of $total)")
  }

  test("maintain: folds the log past maxTail, compacts hot files below it, idles clean") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(200).repartition(4))
    // long tail: 4 commits with maxTail 3 → checkpoint + expire
    (1 to 3).foreach(v => TxTable.upsert(spark, t,
      Seq((v.toLong, s"n$v", v * 1.0, v.toLong)).toDF("id", "name", "price", "version"),
      Seq("id"), "version"))
    val a1 = TxTable.maintain(spark, t, maxTail = 3)
    assert(a1.exists(_.startsWith("checkpoint")), s"got $a1")
    assert(TxTable.checkpointIds(t).nonEmpty)
    assert(TxTable.read(spark, t).count() === 200L)
    // hot dead files below the tail bound → compactFiles, not checkpoint
    TxTable.upsert(spark, t,
      base(200).filter(col("id") % 2 === 0)
        .withColumn("version", lit(9L)).withColumn("op", lit("d")),
      Seq("id"), "version", opCol = Some("op"))
    val cpsBefore = TxTable.checkpointIds(t)
    val a2 = TxTable.maintain(spark, t, maxTail = 10, minDeadFraction = 0.3)
    assert(a2.exists(_.startsWith("compactFiles")), s"got $a2")
    assert(TxTable.checkpointIds(t) === cpsBefore,
      "a skewed delete must not trigger a whole-table fold")
    assert(TxTable.read(spark, t).count() === 100L)
    // idle: nothing to do (the fold-down just cleared the dead fraction)
    val a3 = TxTable.maintain(spark, t, maxTail = 10)
    assert(a3.isEmpty, s"an idle table needs no maintenance: $a3")
  }

  test("z-ordered checkpoint restores pruning on EITHER key of a mutating table") {
    import spark.implicits._
    val t = tmp() + "/t"
    // two independent keys, unsorted layout: every file spans both domains
    val df = (0 until 10000).map(i =>
        (i.toLong, (i * 7919L) % 10000, 100.0 + i, 0L))
      .toDF("a", "b", "price", "version").repartition(8)
    TxTable.create(spark, t, df)
    TxTable.upsert(spark, t,
      (0 until 100).map(i => (i * 97L % 10000, (i * 97L * 7919L) % 10000, 9.0, 1L))
        .toDF("a", "b", "price", "version")
        .dropDuplicates("a"),
      Seq("a"), "version")
    def expect(c: String, lo: Long, hi: Long) = TxTable.read(spark, t)
      .filter(col(c) >= lo && col(c) <= hi)
      .orderBy("a", "version").collect().toSeq
    val wantA = expect("a", 2000L, 2999L)
    val wantB = expect("b", 5000L, 5999L)
    // z-ordered fold + manifest over BOTH keys
    TxTable.checkpoint(spark, t, targetFileBytes = 8L * 1024,
      zCols = Seq("a", "b"))
    TxTable.expire(spark, t)
    TxTable.buildManifest(spark, t, Seq("a", "b"))
    val total = Fs.listFiles(s"$t/data/c${TxTable.checkpointIds(t).last}")
      .count(_.getPath.getName.endsWith(".parquet"))
    val gotA = TxTable.readSkipping(spark, t, "a", 2000L, 2999L)
    val gotB = TxTable.readSkipping(spark, t, "b", 5000L, 5999L)
    assert(gotA.orderBy("a", "version").collect().toSeq === wantA,
      "the z layout pass must not change the snapshot (key a)")
    assert(gotB.orderBy("a", "version").collect().toSeq === wantB,
      "the z layout pass must not change the snapshot (key b)")
    val keptA = gotA.inputFiles.count(_.contains("/data/"))
    val keptB = gotB.inputFiles.count(_.contains("/data/"))
    assert(total >= 4 && keptA < total && keptB < total,
      s"z fold must prune on BOTH keys (a: $keptA/$total, b: $keptB/$total)")
  }

  test("history reports one metadata-only row per committed id") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))                                  // c0
    TxTable.upsert(spark, t,
      Seq((1L, "name1", 1111.0, 1L, "u"), (2L, "x", 0.0, 1L, "d"))
        .toDF("id", "name", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))                          // c1
    val cp = TxTable.checkpoint(spark, t)                                // c2
    // a crashed (unmarked) commit must be invisible to history too
    val k = TxTable.upsert(spark, t,
      Seq((3L, "name3", 3333.0, 2L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    Fs.deleteIfExists(s"$t/_txn/commits/c$k")
    val h = TxTable.history(spark, t).orderBy("commit").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(0L, 1L, cp))
    val byId = h.map(r => r.getLong(0) ->
      ((r.getBoolean(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(byId(0L)._1 === false && byId(0L)._2 > 0 && byId(0L)._4 === 0L)
    assert(byId(1L)._4 === 2L, "c1 killed the repriced row and the tombstone")
    assert(byId(cp)._1 === true && byId(cp)._4 === 0L)
    assert(h.forall(r => r.getLong(3) >= 0L))
  }

  test("insert-only and delete-only batches commit cleanly") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(50))
    TxTable.upsert(spark, t,
      Seq((900L, "ins", 9.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")                                   // pure insert
    assert(TxTable.read(spark, t).count() === 51L)
    TxTable.upsert(spark, t,
      Seq((900L, "ins", 9.0, 2L, "d")).toDF("id", "name", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))               // pure delete
    val got = TxTable.read(spark, t)
    assert(got.count() === 50L)
    assert(got.filter(col("id") === 900L).count() === 0L)
  }

  // ---- predicate DML (round 18) ------------------------------------------

  test("deleteWhere marks matching live rows dead in one commit") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))
    val before = Fs.listFiles(s"$t/data/c0")
      .map(f => f.getPath.getName -> f.getLen).toMap
    val k = TxTable.deleteWhere(spark, t, col("id") % 7 === 0)
    val got = TxTable.read(spark, t)
    assert(got.count() === 85L) // 15 ids divisible by 7 in 0..99
    assert(got.filter(col("id") % 7 === 0).count() === 0L)
    // survivors come back value-exact, in the table's own schema
    assert(got.columns.toSeq === Seq("id", "name", "price", "version"))
    val r = got.filter(col("id") === 8L).head
    assert(r.getString(1) === "name8" && r.getDouble(2) === 108.0)
    // no data written, no data touched — vectors only
    assert(!Fs.isDirectory(s"$t/data/c$k"))
    assert(Fs.listFiles(s"$t/data/c0")
      .map(f => f.getPath.getName -> f.getLen).toMap === before)
    // the feed reports ordinary d rows with last-known values
    val d = TxTable.changeFeed(spark, t, Seq("id"), fromCommit = k)
    assert(d.filter(col("op") === "d").count() === 15L)
    // time travel below the delete still sees everything
    assert(TxTable.readAt(spark, t, k - 1).count() === 100L)
    // a no-match predicate commits an EMPTY commit
    val k2 = TxTable.deleteWhere(spark, t, col("id") === -999L)
    assert(TxTable.committedIds(t).contains(k2))
    assert(!Fs.isDirectory(s"$t/data/c$k2") && !Fs.isDirectory(s"$t/_txn/dv/$k2"))
    assert(TxTable.read(spark, t).count() === 85L)
  }

  test("updateWhere: every SET expression evaluates against the OLD row") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))
    // price := version * 1000 + id, version := version + 7 — if SETs
    // leaked into each other, price would read the bumped version
    val k = TxTable.updateWhere(spark, t, col("id") < 10L,
      Map("price" -> (col("version") * 1000.0 + col("id")),
        "version" -> (col("version") + 7L)))
    val got = TxTable.read(spark, t)
    assert(got.count() === 100L)
    (0L until 10L).foreach { i =>
      val r = got.filter(col("id") === i).head
      assert(r.getDouble(2) === i.toDouble, s"price must see the OLD version: $r")
      assert(r.getLong(3) === 7L)
    }
    assert(got.filter(col("id") === 50L).head.getDouble(2) === 150.0,
      "unmatched rows byte-untouched")
    // feed: u rows with new values, up preimages with old
    val feed = TxTable.changeFeed(spark, t, Seq("id"), fromCommit = k,
      withPreimage = true)
    assert(feed.filter(col("op") === "u").count() === 10L)
    assert(feed.filter(col("op") === "up").count() === 10L)
    // empty match commits an empty commit
    val k2 = TxTable.updateWhere(spark, t, col("id") === -1L,
      Map("price" -> lit(0.0)))
    assert(TxTable.committedIds(t).contains(k2))
    assert(!Fs.isDirectory(s"$t/data/c$k2"))
  }

  // ---- partition-aware layout (round 18) --------------------------------

  private def partedBase(n: Int = 400) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"cat${i % 4}", 100.0 + i, 0L))
      .toDF("id", "cat", "price", "version")
  }

  test("partitionCols: hive layout inside the commit dir, read round-trips") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, partedBase(), partitionCols = Seq("cat"))
    // directory-count assertion: data/c0 holds one cat=<v> dir per value
    val dirs = Fs.listDirs(s"$t/data/c0").map(_.getPath.getName).sorted
    assert(dirs === Seq("cat=cat0", "cat=cat1", "cat=cat2", "cat=cat3"))
    val got = TxTable.read(spark, t)
    assert(got.count() === 400L)
    assert(got.columns.toSet === Set("id", "cat", "price", "version"),
      "the partition column must come back as a real column")
    assert(got.filter(col("cat") === "cat2").count() === 100L)
    // history's file/byte accounting sees the partitioned leaves
    val h = TxTable.history(spark, t).filter(col("commit") === 0L).head
    assert(h.getLong(2) > 0L && h.getLong(3) > 0L,
      s"history must count partitioned commits' files: $h")
  }

  test("partition pruning composes with the commit log (PartitionFilters in plan)") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, partedBase(), partitionCols = Seq("cat"))
    TxTable.upsert(spark, t,
      Seq((2L, "cat2", 9999.0, 1L)).toDF("id", "cat", "price", "version"),
      Seq("id"), "version", partitionCols = Seq("cat"))
    val q = TxTable.read(spark, t).filter(col("cat") === "cat2")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("cat2"),
      s"the partition predicate must reach the scan as a PartitionFilter:\n$plan")
    // pruned result == plain filter semantics, including the upsert
    assert(q.count() === 100L)
    assert(q.filter(col("id") === 2L).head.getAs[Double]("price") === 9999.0)
    // and the scan's input files are ONLY the matching partition dirs
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    // data scans only — the DV sidecar scan is not partition-prunable
    val files = scans(q.queryExecution.executedPlan)
      .flatMap(_.selectedPartitions.toPartitionArray.map(_.toPath.toString))
      .filter(_.contains("/data/"))
    assert(files.nonEmpty && files.forall(_.contains("/cat=cat2/")),
      s"partition pruning must cut non-matching directories: $files")
    // and BOTH commits' matching dirs are present (pruning, not skipping
    // a commit)
    assert(files.exists(_.contains("/data/c0/")) &&
      files.exists(_.contains("/data/c1/")))
  }

  test("partitioned table: upsert/tombstone/skipping/changeFeed all compose") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, partedBase(), partitionCols = Seq("cat"),
      bloomCols = Seq("id"))
    TxTable.upsert(spark, t,
      Seq((8L, "cat0", 8888.0, 1L), (401L, "cat1", 4.0, 1L))
        .toDF("id", "cat", "price", "version"),
      Seq("id"), "version", partitionCols = Seq("cat"), bloomCols = Seq("id"))
    TxTable.upsert(spark, t,
      Seq((12L, "cat0", 0.0, 2L, "d")).toDF("id", "cat", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"), partitionCols = Seq("cat"))
    val got = TxTable.read(spark, t)
    assert(got.count() === 400L) // +1 insert, -1 tombstone
    assert(got.filter(col("id") === 8L).head.getAs[Double]("price") === 8888.0)
    assert(got.filter(col("id") === 12L).count() === 0L)
    // range skipping over the partitioned layout (recursive file listing
    // + basePath partition recovery)
    TxTable.buildManifest(spark, t, Seq("id"))
    val skim = TxTable.readSkipping(spark, t, "id", 0L, 20L)
    assert(skim.columns.contains("cat"),
      "skipping reads must recover the partition column")
    assert(skim.count() === 20L) // ids 0..20 minus tombstoned 12
    assert(skim.filter(col("id") === 8L).head.getAs[Double]("price") === 8888.0)
    // point lookup through the bloom path
    val pt = TxTable.readSkippingEquality(spark, t, "id", 8L)
    assert(pt.count() === 1L && pt.head.getAs[String]("cat") === "cat0")
    // the change feed diffs partitioned adds against partitioned kills
    val feed = TxTable.changeFeed(spark, t, Seq("id"))
    val ops = feed.filter(col("commit") >= 1L)
      .select("id", "op").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ops === Set((8L, "u"), (401L, "i"), (12L, "d")))
  }

  test("partitioned checkpoint keeps the layout and the snapshot") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, partedBase(), partitionCols = Seq("cat"))
    TxTable.upsert(spark, t,
      Seq((8L, "cat0", 8888.0, 1L)).toDF("id", "cat", "price", "version"),
      Seq("id"), "version", partitionCols = Seq("cat"))
    val cp = TxTable.checkpoint(spark, t, partitionCols = Seq("cat"))
    assert(Fs.listDirs(s"$t/data/c$cp").map(_.getPath.getName).sorted
      === Seq("cat=cat0", "cat=cat1", "cat=cat2", "cat=cat3"))
    TxTable.expire(spark, t)
    val got = TxTable.read(spark, t)
    assert(got.count() === 400L)
    assert(got.filter(col("id") === 8L).head.getAs[Double]("price") === 8888.0)
  }

  test("predicate DML composes with the partitioned layout") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, partedBase(), partitionCols = Seq("cat"))
    // partition-scoped DELETE: the TTL shape — predicate on the
    // partition column itself
    TxTable.deleteWhere(spark, t, col("cat") === "cat3")
    assert(TxTable.read(spark, t).count() === 300L)
    assert(TxTable.read(spark, t).filter(col("cat") === "cat3").count() === 0L)
    // predicate UPDATE across the surviving partitions
    TxTable.updateWhere(spark, t, col("id") % 2 === 0L,
      Map("price" -> (col("price") + 1.0)), partitionCols = Seq("cat"))
    val got = TxTable.read(spark, t)
    assert(got.count() === 300L)
    assert(got.filter(col("id") === 8L).head.getAs[Double]("price") === 109.0)
    assert(got.filter(col("id") === 9L).head.getAs[Double]("price") === 109.0,
      "odd ids untouched (id 9 base price)")
  }

  test("partitioned fold-down keeps the hive layout on the moved rows") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, partedBase().repartition(4),
      partitionCols = Seq("cat"))
    // kill 40% of cat0's rows so its files cross the dead threshold
    TxTable.upsert(spark, t,
      partedBase().filter(col("cat") === "cat0" && col("id") % 10 < 4)
        .withColumn("version", lit(1L)).withColumn("op", lit("d")),
      Seq("id"), "version", opCol = Some("op"),
      partitionCols = Seq("cat"))
    val k = TxTable.compactFiles(spark, t, minDeadFraction = 0.3,
      partitionCols = Seq("cat"))
    assert(k.nonEmpty, "the hot partition's files must cross the threshold")
    // the fold's commit dir is itself hive-partitioned (cat=cat0 only —
    // the other partitions' files were cold)
    val dirs = Fs.listDirs(s"$t/data/c${k.get}").map(_.getPath.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("cat=")),
      s"fold-down must keep the layout: $dirs")
    val got = TxTable.read(spark, t)
    assert(got.count() === 360L)
    assert(got.filter(col("cat") === "cat0").count() === 60L)
  }

  test("a log of flat and hive commits: read, readSkipping and changeFeed equal their plain forms") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, partedBase())                                // c0, flat
    TxTable.upsert(spark, t,
      Seq((8L, "cat0", 8888.0, 1L), (401L, "cat1", 4.0, 1L))
        .toDF("id", "cat", "price", "version"),
      Seq("id"), "version", partitionCols = Seq("cat"))                   // c1, hive
    TxTable.upsert(spark, t,
      Seq((12L, "cat0", 0.0, 2L, "d"), (9L, "cat1", 9.0, 2L, "u"))
        .toDF("id", "cat", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"), partitionCols = Seq("cat")) // c2, hive
    val cols = Seq("id", "cat", "price", "version")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy("id").collect().toSeq
    val live = TxTable.read(spark, t)
    assert(live.columns.toSeq === cols)
    val want = partedBase().filter(col("id") =!= 12L && col("id") =!= 8L && col("id") =!= 9L)
      .unionByName(Seq((8L, "cat0", 8888.0, 1L), (401L, "cat1", 4.0, 1L), (9L, "cat1", 9.0, 2L))
        .toDF("id", "cat", "price", "version"))
    assert(rows(live) === rows(want))
    // the pruned reads equal the unpruned read filtered
    TxTable.buildManifest(spark, t, Seq("id"))
    assert(rows(TxTable.readSkipping(spark, t, "id", 0L, 20L)) ===
      rows(live.filter(col("id") >= 0L && col("id") <= 20L)))
    assert(rows(TxTable.readSkippingEquality(spark, t, "id", 8L)) ===
      rows(live.filter(col("id") === 8L)))
    // replaying the feed in commit order reconstructs the snapshot
    import org.apache.spark.sql.expressions.Window
    val feed = TxTable.changeFeed(spark, t, Seq("id"))
    val replayed = feed
      .withColumn("__rn", row_number().over(Window.partitionBy("id").orderBy(col("commit").desc)))
      .filter(col("__rn") === 1 && col("op") =!= "d")
    assert(rows(replayed) === rows(live))
  }

  test("a read's scan keeps the block locations its listing carries") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.locatedls.impl", classOf[LocatedListingFileSystem].getName)
    val t = s"locatedls://${tmp()}/t"
    TxTable.create(spark, t, base(100))
    def leaves(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      if (r.dependencies.isEmpty) Seq(r) else r.dependencies.flatMap(d => leaves(d.rdd))
    val scans = leaves(TxTable.read(spark, t).rdd)
    assert(scans.nonEmpty)
    scans.foreach(r => r.partitions.foreach(p => assert(r.preferredLocations(p) === Seq("dn1"))))
  }

  test("expire retires committed OCC key sidecars; OCC straddling an expire still validates") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = tmp() + "/t"
    TxTable.create(spark, t,
      (0 until 50).map(i => (i.toLong, 100.0 + i, 0L)).toDF("id", "price", "version"))
    // two optimistic commits leave key sidecars
    TxTable.upsert(spark, t,
      Seq((1L, 1111.0, 1L)).toDF("id", "price", "version"),
      Seq("id"), "version", conflictDetect = true)
    TxTable.upsert(spark, t,
      Seq((2L, 2222.0, 2L)).toDF("id", "price", "version"),
      Seq("id"), "version", conflictDetect = true)
    assert(Fs.isDirectory(s"$t/_txn/keys/1") && Fs.isDirectory(s"$t/_txn/keys/2"))
    TxTable.checkpoint(spark, t)
    TxTable.expire(spark, t)
    // history below the checkpoint can conflict with nobody — its
    // sidecars fold away with it (they were permanent dead weight)
    assert(!Fs.exists(s"$t/_txn/keys/1") && !Fs.exists(s"$t/_txn/keys/2"),
      "expire must retire the collapsed commits' key sidecars")
    // OCC across the collapsed history still serializes: same-key racers
    // on the post-expire log (validation windows only ever contain
    // near-tip commits, so the missing sidecars are never consulted)
    val writers = (1 to 3).map { v =>
      Future {
        TxTable.upsert(spark, t,
          Seq((7L, v * 1000.0, 10L + v)).toDF("id", "price", "version"),
          Seq("id"), "version", conflictDetect = true,
          conflictWaitMs = 180000L)
      }
    }
    Await.result(Future.sequence(writers), 10.minutes)
    val rows = TxTable.read(spark, t).filter(col("id") === 7L).collect()
    assert(rows.length === 1 && rows.head.getLong(2) === 13L,
      s"post-expire OCC must still serialize to the max version: ${rows.toSeq}")
    assert(TxTable.read(spark, t).count() === 50L)
  }

  test("a snapshot read of a table with deletion vectors runs no Spark job before its first action") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base())
    TxTable.deleteWhere(spark, t, col("id") % 3 === 0)
    TxTable.upsert(spark, t, Seq((1L, "one", 1.0, 1L), (5000L, "new", 2.0, 1L))
      .toDF("id", "name", "price", "version"), Seq("id"), "version")
    val barrier = "txtable-read-barrier"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val barrierDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      private def desc(e: org.apache.spark.scheduler.SparkListenerJobStart) =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse(""))
      private val barrierJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (desc(e) == barrier) barrierJobs.add(e.jobId) else started.add(desc(e))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (barrierJobs.contains(e.jobId)) barrierDone.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val snap = try {
      val df = TxTable.read(spark, t)
      // the bus delivers events in order: once the barrier job's end
      // arrives, every job the read started has been counted
      spark.sparkContext.setJobDescription(barrier)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(barrierDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      df
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(started.isEmpty, s"TxTable.read ran Spark jobs: ${started.toArray.mkString("; ")}")
    assert(snap.count() === 1000L - 334L + 1L)
  }

  test("compactFiles below minDeadFraction decides without a Spark job and returns None") {
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(4000).repartition(4))
    TxTable.deleteWhere(spark, t, col("id") < 5L)
    val barrier = "txtable-compact-barrier"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val barrierDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      private def desc(e: org.apache.spark.scheduler.SparkListenerJobStart) =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse(""))
      private val barrierJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (desc(e) == barrier) barrierJobs.add(e.jobId) else started.add(desc(e))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (barrierJobs.contains(e.jobId)) barrierDone.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val k = try {
      val k = TxTable.compactFiles(spark, t, minDeadFraction = 0.3)
      // the bus delivers events in order: once the barrier job's end
      // arrives, every job the call started has been counted
      spark.sparkContext.setJobDescription(barrier)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(barrierDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
      k
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(started.isEmpty, s"compactFiles ran Spark jobs: ${started.toArray.mkString("; ")}")
    assert(k.isEmpty, "5 dead rows of 4000 are below the 0.3 threshold")
    assert(TxTable.read(spark, t).count() === 3995L)
  }

  test("changeFeed rejects a table column named op, naming it") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, Seq((1L, "x", 0L)).toDF("id", "op", "version"))
    val one = intercept[IllegalArgumentException](TxTable.changeFeed(spark, t, Seq("id")))
    assert(one.getMessage.contains("op"), one.getMessage)
    TxTable.upsert(spark, t, Seq((2L, "y", 1L)).toDF("id", "op", "version"),
      Seq("id"), "version")
    val many = intercept[IllegalArgumentException](TxTable.changeFeed(spark, t, Seq("id")))
    assert(many.getMessage.contains("op"), many.getMessage)
  }

  test("changeFeed rejects a table column named commit; __commit feeds") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, Seq((1L, 77L, 0L)).toDF("id", "Commit", "version"))
    val e = intercept[IllegalArgumentException](TxTable.changeFeed(spark, t, Seq("id")))
    assert(e.getMessage.contains("Commit"), e.getMessage)
    // a table column under the feed's working name keeps its own values
    val u = tmp() + "/u"
    TxTable.create(spark, u, Seq((1L, 77L, 0L), (2L, 88L, 0L)).toDF("id", "__commit", "version"))
    TxTable.upsert(spark, u, Seq((2L, 99L, 1L)).toDF("id", "__commit", "version"),
      Seq("id"), "version")
    val rows = TxTable.changeFeed(spark, u, Seq("id"))
      .select("id", "op", "__commit", "commit").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(rows === Set((1L, "i", 77L, 0L), (2L, "i", 88L, 0L), (2L, "u", 99L, 1L)))
  }

  test("nullability-only drift: a read over a checkpoint and an upsert is one scan") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(100))
    TxTable.checkpoint(spark, t)
    // a literal version column is written `required`, the checkpoint's `optional`
    TxTable.upsert(spark, t, Seq((3L, "n3", 3.0)).toDF("id", "name", "price")
      .withColumn("version", lit(1L)), Seq("id"), "version")
    val q = TxTable.read(spark, t)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plan = q.queryExecution.sparkPlan
    assert(plan.collect { case s: FileSourceScanExec => s }.size === 1, plan.toString)
    assert(q.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.isEmpty,
      q.queryExecution.optimizedPlan.toString)
    assert(q.count() === 100L)
    assert(q.filter(col("id") === 3L).head.getAs[Double]("price") === 3.0)
  }
}
