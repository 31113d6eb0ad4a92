package graft

import graft.operators.Similarity
import graft.sources.TxTable
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Round-18 change-feed consumer: a standing vector state (itself a
 * TxTable) synced from a mutating source table's change feed via
 * `Streams.txVectorStateSync` must track updates AND deletes — the
 * gap the round-17 verdict named first: the streaming ANN/dedup sinks
 * only ever grow their standing state, so a CDC-maintained table could
 * not drive a similarity index through mutations without a recompute.
 *
 * Gate: after upserts including re-embeddings (updates) and tombstones
 * (deletes), the synced state equals the batch recompute — both as a
 * row set and through an ANN query (a retired vector must stop being
 * anyone's neighbor; a re-embedded one must serve its NEW vector).
 * The streaming consumer, `readStream.format("txtable")`, must emit each
 * commit once across a crash before an offset commit, and bootstrap a
 * folded table from its snapshot.
 */
class TxFeedStateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-txfs").toString

  /** Deterministic 6-dim embeddings in 3 tight clusters. */
  private def vecs(ids: Seq[Long], cluster: Long => Int) = {
    import spark.implicits._
    ids.map { i =>
      val c = cluster(i)
      val base = Array.fill(6)(0.05f * ((i % 7) + 1))
      base(c) = 10f
      base(c + 3) = 5f + (i % 3)
      (i, base.toSeq)
    }.toDF("id", "vec")
  }

  private def stateRows(root: String) =
    TxTable.read(spark, root).select("id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet

  test("state follows the feed through updates and tombstones; equals batch recompute") {
    import spark.implicits._
    val dir = tmp()
    val src = s"$dir/src"
    val st = s"$dir/state"
    val base = vecs(0L until 60L, i => (i % 3).toInt)
      .withColumn("version", lit(0L))
    TxTable.create(spark, src, base)
    var cursor = Streams.txVectorStateSync(spark, src, st, "id", "vec", -1L)
    assert(cursor === 0L)
    assert(stateRows(st) === stateRows(src).map(identity),
      "after the first sync the state mirrors the source")

    // mutate: re-embed ids %5==0 (moved to cluster 1), delete ids %7==0
    val reEmb = vecs((0L until 60L).filter(_ % 5 == 0), _ => 1)
      .withColumn("version", lit(1L)).withColumn("op", lit("u"))
    val dels = vecs((0L until 60L).filter(_ % 7 == 0), i => (i % 3).toInt)
      .withColumn("version", lit(2L)).withColumn("op", lit("d"))
    TxTable.upsert(spark, src, reEmb.unionByName(dels), Seq("id"), "version",
      opCol = Some("op"))
    cursor = Streams.txVectorStateSync(spark, src, st, "id", "vec", cursor)

    // (1) the state equals the live source projection, row-exactly
    val live = TxTable.read(spark, src).select("id", "vec").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSet
    assert(stateRows(st) === live,
      "synced state must equal the batch recompute after updates + deletes")
    assert(!live.exists(_._1 % 7 == 0), "tombstoned ids are gone")

    // (2) an ANN query over the STATE equals the same over the live
    // source — the retired vector serves nobody, the re-embedded one
    // serves its new cluster
    val probes = vecs(Seq(1000L, 1001L, 1002L), i => (i % 3).toInt)
    def topk(corpus: org.apache.spark.sql.DataFrame) =
      Similarity.imiIncrementalTopK(corpus, probes, "id", "vec", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
    val viaState = topk(TxTable.read(spark, st).select("id", "vec"))
    val viaLive = topk(TxTable.read(spark, src).select("id", "vec"))
    assert(viaState === viaLive,
      "ANN over the synced state must equal ANN over the live table")
    assert(viaState.nonEmpty && !viaState.exists(_._2 % 7 == 0),
      "a deleted vector must not surface as a neighbor")

    // (3) replay idempotence: re-syncing from the OLD cursor is a
    // snapshot no-op (at-least-once consumer crash contract)
    val before = stateRows(st)
    Streams.txVectorStateSync(spark, src, st, "id", "vec", 0L)
    assert(stateRows(st) === before,
      "re-applying an already-consumed chunk must not move the state")
    // (4) nothing new: the cursor poll is a no-op returning the cursor
    assert(Streams.txVectorStateSync(spark, src, st, "id", "vec", cursor)
      === cursor)
  }

  test("bootstrap after checkpoint+expire sees the folded history; stale cursors fail loudly") {
    import spark.implicits._
    val dir = tmp()
    val src = s"$dir/src"
    val st = s"$dir/state"
    val base = vecs(0L until 40L, i => (i % 3).toInt)
      .withColumn("version", lit(0L))
    TxTable.create(spark, src, base)
    TxTable.upsert(spark, src,
      vecs(Seq(5L), _ => 1).withColumn("version", lit(1L)),
      Seq("id"), "version")
    // maintenance folds the history away — the feed can no longer carry
    // the base rows (checkpoint commits are feed-invisible by design)
    TxTable.checkpoint(spark, src)
    TxTable.expire(spark, src)
    // a NEW consumer bootstraps from the snapshot, not the feed — it
    // must see every folded row
    val cursor = Streams.txVectorStateSync(spark, src, st, "id", "vec", -1L)
    assert(stateRows(st) === stateRows(src))
    assert(stateRows(st).size === 40)
    // an OLD consumer whose cursor predates the retained history gets a
    // loud failure, never a changelog with holes
    val ex = intercept[IllegalArgumentException] {
      TxTable.changeFeedFrom(spark, src, Seq("id"), 0L)
    }
    assert(ex.getMessage.contains("retained history"))
    // the bootstrapped consumer keeps consuming normally from its tip
    TxTable.upsert(spark, src,
      vecs(Seq(7L), _ => 2).withColumn("version", lit(5L)),
      Seq("id"), "version")
    Streams.txVectorStateSync(spark, src, st, "id", "vec", cursor)
    assert(stateRows(st) === stateRows(src))
  }

  /** Drain every commit of `t`'s change feed available now through
    * `readStream.format("txtable")`; each micro-batch overwrites
    * `out/batch=<id>`, so a replayed batch replaces its own attempt. */
  private def drainFeed(t: String, out: String, ckpt: String,
      options: Map[String, String]): Unit = {
    val q = spark.readStream.format("txtable").option("keys", "id")
      .options(options).load(t).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        b.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .start()
    q.awaitTermination()
  }

  /** Everything the drained stream emitted. */
  private def feedOut(out: String) = spark.read.parquet(out).drop("batch")

  /** The crash between a micro-batch's sink write and its offset
    * commit: remove the checkpoint's last `commits/<n>` entry, so a
    * restart replays batch n over its logged range. Returns n. */
  private def dropLastOffsetCommit(ckpt: String): Long = {
    val dir = new java.io.File(s"$ckpt/commits")
    val n = dir.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    new java.io.File(dir, s"$n").delete()
    new java.io.File(dir, s".$n.crc").delete()
    n
  }

  private def feedKey(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("id"), r.getAs[String]("op"), r.getAs[Long]("commit"))

  test("the txtable stream source is exactly-once when a batch replays after a crash before its offset commit") {
    import spark.implicits._
    val dir = tmp()
    val t = s"$dir/t"
    val out = s"$dir/feed"
    val ckpt = s"$dir/ck"
    val opts = Map("startingCursor" -> "-1", "withPreimage" -> "true")
    TxTable.create(spark, t,
      (0L until 50L).map(i => (i, i % 5, 100.0 + i, 0L))
        .toDF("id", "grp", "price", "version"))
    TxTable.upsert(spark, t,
      Seq((3L, 3L, 999.0, 1L)).toDF("id", "grp", "price", "version"),
      Seq("id"), "version")
    drainFeed(t, out, ckpt, opts)
    // a tombstone and an EMPTY commit (a stale update loses to version 1)
    TxTable.upsert(spark, t,
      Seq((4L, 4L, 0.0, 2L, "d")).toDF("id", "grp", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))
    TxTable.upsert(spark, t,
      Seq((3L, 3L, 1.0, 0L)).toDF("id", "grp", "price", "version"),
      Seq("id"), "version")
    drainFeed(t, out, ckpt, opts)
    assert(dropLastOffsetCommit(ckpt) === 1L)
    // a commit lands while the stream is down: the replayed batch must
    // keep its logged range, and the new commit must land exactly once
    TxTable.upsert(spark, t,
      Seq((5L, 0L, 555.0, 3L)).toDF("id", "grp", "price", "version"),
      Seq("id"), "version")
    drainFeed(t, out, ckpt, opts)
    val got = feedOut(out).collect().map(feedKey).toSeq
    assert(got.length === got.distinct.length,
      s"no (id, op, commit) may land twice: ${got.sorted}")
    val want = TxTable.changeFeed(spark, t, Seq("id"), withPreimage = true)
      .collect().map(feedKey).toSet
    assert(got.toSet === want, "the emitted changelog equals the full feed")
  }

  test("a stale unmarked feed batch dir is replaced, never double-emitted") {
    import spark.implicits._
    val dir = tmp()
    val t = s"$dir/t"
    val out = s"$dir/feed"
    val ckpt = s"$dir/ck"
    val opts = Map("startingCursor" -> "-1")
    TxTable.create(spark, t,
      (0L until 20L).map(i => (i, 100.0 + i, 0L)).toDF("id", "price", "version"))
    drainFeed(t, out, ckpt, opts)
    TxTable.upsert(spark, t,
      Seq((3L, 999.0, 1L)).toDF("id", "price", "version"), Seq("id"), "version")
    drainFeed(t, out, ckpt, opts)
    // batch 1 CRASHED before its offset commit, leaving a torn attempt —
    // garbage rows a replay must replace, not accumulate next to
    assert(dropLastOffsetCommit(ckpt) === 1L)
    Seq((3L, "i", 999.0, 1L, 1L), (3L, "i", 999.0, 1L, 1L))
      .toDF("id", "op", "price", "version", "commit")
      .write.mode("overwrite").parquet(s"$out/batch=1")
    // more commits land before the restart: the replay re-emits the
    // stale range (commit 1) into the same dir, the new commit lands next
    TxTable.upsert(spark, t,
      Seq((4L, 888.0, 1L)).toDF("id", "price", "version"), Seq("id"), "version")
    drainFeed(t, out, ckpt, opts)
    val got = feedOut(out).collect().map(feedKey).toSeq
    assert(got.length === got.distinct.length,
      s"no commit may be emitted twice: ${got.sorted}")
    val want = TxTable.changeFeed(spark, t, Seq("id"))
      .collect().map(feedKey).toSet
    assert(got.toSet === want, "the replayed changelog equals the full feed")
  }

  test("fresh feed consumer of a FOLDED table bootstraps from the snapshot") {
    import spark.implicits._
    val dir = tmp()
    val t = s"$dir/t"
    val out = s"$dir/feed"
    val ckpt = s"$dir/ck"
    val opts = Map("withPreimage" -> "true")
    TxTable.create(spark, t,
      (0L until 30L).map(i => (i, i % 4, 100.0 + i, 0L))
        .toDF("id", "grp", "price", "version"))
    TxTable.upsert(spark, t,
      Seq((3L, 3L, 999.0, 1L)).toDF("id", "grp", "price", "version"),
      Seq("id"), "version")
    TxTable.checkpoint(spark, t)
    TxTable.expire(spark, t)
    // the primitive refuses — a fresh-cursor feed would miss every
    // folded base row (checkpoint commits are feed-invisible)
    val ex = intercept[IllegalArgumentException] {
      TxTable.changeFeedFrom(spark, t, Seq("id"), -1L)
    }
    assert(ex.getMessage.contains("folded"))
    // the source's default start bootstraps: snapshot-as-inserts at the tip
    drainFeed(t, out, ckpt, opts)
    val base = feedOut(out)
    assert(base.count() === 30L, "the bootstrap emits every folded row")
    assert(base.select("op", "commit").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("i", TxTable.committedIds(t).max)))
    // deltas on top: an update and a tombstone
    TxTable.upsert(spark, t,
      Seq((5L, 1L, 777.0, 2L)).toDF("id", "grp", "price", "version"),
      Seq("id"), "version")
    TxTable.upsert(spark, t,
      Seq((7L, 3L, 0.0, 2L, "d")).toDF("id", "grp", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))
    drainFeed(t, out, ckpt, opts)
    // the emitted changelog drives the retracting aggregate to the
    // from-scratch aggregate over the live table
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2))).toSet
    val state = agg(graft.operators.Materialize.incrementalAggCdc(None,
      feedOut(out).select("grp", "op", "price"), Seq("grp"), Seq("price")))
    val scratch = agg(graft.operators.Materialize.incrementalAgg(None,
      TxTable.read(spark, t).select("grp", "price"), Seq("grp"), Seq("price")))
    assert(state === scratch,
      "a consumer of the emitted changelog converges to the live aggregate")
  }

  test("a REGISTERED consumer's cursor floors expire — lag survives maintenance") {
    import spark.implicits._
    val dir = tmp()
    val src = s"$dir/src"
    val st = s"$dir/state"
    val base = vecs(0L until 40L, i => (i % 3).toInt).withColumn("version", lit(0L))
    TxTable.create(spark, src, base)
    // first sync registers the consumer at the tip (commit 0)
    var cursor = Streams.txVectorStateSync(spark, src, st, "id", "vec", -1L,
      consumerName = Some("vecstate"))
    assert(TxTable.registeredCursors(src) === Seq(("vecstate", 0L)))
    // the source mutates TWICE while the consumer lags...
    TxTable.upsert(spark, src,
      vecs(Seq(5L), _ => 1).withColumn("version", lit(1L)), Seq("id"), "version")
    TxTable.upsert(spark, src,
      vecs(Seq(9L), _ => 2).withColumn("version", lit(2L)), Seq("id"), "version")
    // ...and maintenance folds the log. WITHOUT the registration this
    // strands the consumer (the pinned loud-failure contract below);
    // WITH it, expire keeps commits 1..2 feed-readable
    TxTable.checkpoint(spark, src)
    val expired = TxTable.expire(spark, src)
    // commit 0 is the KILL SOURCE of the retained commits' deletion
    // vectors (their d/u rows resolve last-known values from its files)
    // — the floor retains it too, so nothing is deletable yet
    assert(expired.isEmpty,
      s"expire must stop at the registered floor and its kill sources: $expired")
    assert(Seq(0L, 1L, 2L).forall(TxTable.committedIds(src).contains))
    // the lagging consumer drains normally — no rebuild, no holes
    cursor = Streams.txVectorStateSync(spark, src, st, "id", "vec", cursor,
      consumerName = Some("vecstate"))
    assert(stateRows(st) === stateRows(src),
      "the lagging registered consumer must converge without a rebuild")
    // caught up: the floor advanced, the next expire collapses the rest
    assert(TxTable.registeredCursors(src).head._2 === cursor)
    assert(TxTable.expire(spark, src).nonEmpty)
    // decommission: the floor disappears with the registration
    TxTable.unregisterCursor(src, "vecstate")
    assert(TxTable.cursorFloor(src).isEmpty)
    // an UNREGISTERED consumer keeps today's contract: loud, then
    // snapshot rebootstrap (pinned in the earlier test too)
    TxTable.upsert(spark, src,
      vecs(Seq(7L), _ => 1).withColumn("version", lit(9L)), Seq("id"), "version")
    TxTable.checkpoint(spark, src)
    TxTable.expire(spark, src)
    val ex = intercept[IllegalArgumentException] {
      TxTable.changeFeedFrom(spark, src, Seq("id"), cursor)
    }
    assert(ex.getMessage.contains("retained history"))
  }
}
