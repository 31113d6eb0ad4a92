package graft

import graft.operators.Multimodal
import graft.sources.TxTable
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/**
 * A standing sink crashed inside a micro-batch restarts to exactly the
 * output an uncrashed run writes, and its state table holds every
 * arrival once. Two crash points: the state commit's marker fails
 * after the batch's output landed (the `markerfault:` store), and the
 * process dies after the state commit but before the stream's offset
 * commit (the checkpoint's last `commits/<n>` entry removed). A writer
 * killed mid-commit leaves an unredeemed claim, which the state's fold
 * cadence skips over instead of failing the stream.
 */
class StandingSinkCrashSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.markerfault.impl", classOf[MarkerFaultFileSystem].getName)
    s
  }

  private def png(ids: Seq[Long], noisy: Boolean): DataFrame = {
    import spark.implicits._
    val df = Multimodal.attachPngCorpus(ids.toDF("doc_id"),
      noisyEvery = if (noisy) 1 else 0)
    if (noisy) df.filter(col("doc_id") >= 1000000L) else df
  }

  /** Batch 0 a fresh image, batch 1 its twin plus another fresh image,
    * batch 2 that image's twin, a corpus twin and a fresh image. */
  private def writeBatch(in: String, b: Int): Unit = {
    val df = b match {
      case 0 => png(Seq(300L), noisy = false)
      case 1 => png(Seq(300L), noisy = true).unionByName(png(Seq(301L), noisy = false))
      case _ => png(Seq(301L), noisy = true).unionByName(png(Seq(7L), noisy = true))
        .unionByName(png(Seq(320L), noisy = false))
    }
    df.coalesce(1).write.parquet(s"$in/f$b")
  }

  private def drain(in: String, out: String, ckpt: String,
      corpus: DataFrame): Unit = {
    val schema = spark.read.parquet(s"$in/f0").schema
    val q = Streams.imageDedupSink(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*"),
      corpus, out, ckpt)
    try q.processAllAvailable() finally q.stop()
  }

  private def output(out: String): Set[(Long, Int, Option[Long], Option[Int])] =
    spark.read.parquet(out).select("id", "is_dup", "dup_of", "hamming")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getInt(3)))).toSet

  private def stateRows(out: String): Seq[(Long, Long)] =
    TxTable.read(spark, s"$out/_stream_state").select("nbr", "batch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("an image sink crashed at its state commit restarts to the uncrashed output, no state row duplicated or lost") {
    val corpus = png(0L until 40L, noisy = false)
    val base = java.nio.file.Files.createTempDirectory("graft-sinkcrash").toString
    // the uncrashed reference run
    (0 to 2).foreach(writeBatch(s"$base/ref_in", _))
    drain(s"$base/ref_in", s"$base/ref_out", s"$base/ref_ckpt", corpus)
    val want = output(s"$base/ref_out")
    val wantState = (0L until 40L).map(_ -> -1L) ++
      Seq(300L -> 0L, 1000300L -> 1L, 301L -> 1L,
        1000301L -> 2L, 1000007L -> 2L, 320L -> 2L)
    assert(stateRows(s"$base/ref_out").sorted == wantState.sorted)
    assert(want.exists(_._2 == 1) && want.exists(_._2 == 0))

    // the crashed run: its output dir on a store whose commit markers
    // fail while armed; batches 0 and 1 land normally
    val in = s"$base/in"
    val out = "markerfault:" + base + "/out"
    val ckpt = s"$base/ckpt"
    (0 to 1).foreach(writeBatch(in, _))
    drain(in, out, ckpt, corpus)
    writeBatch(in, 2)
    MarkerFaultFileSystem.armed.set(true)
    try intercept[StreamingQueryException](drain(in, out, ckpt, corpus))
    finally MarkerFaultFileSystem.armed.set(false)
    assert(spark.read.parquet(s"$out/batch=2").count() == 3L,
      "batch 2's output lands before its state commit")
    assert(!stateRows(out).exists(_._2 == 2L),
      "the failed state commit leaves the state without batch 2")
    // restart on the same checkpoint: batch 2 replays and commits
    drain(in, out, ckpt, corpus)
    assert(output(out) == want, "the restarted output equals the uncrashed one")
    assert(stateRows(out).sorted == wantState.sorted,
      "every arrival is in the state exactly once")

    // the second crash point: batch 2's state commit landed, its offset
    // commit did not — the replay must not add its arrivals again
    val commits = new java.io.File(s"$ckpt/commits")
    assert(new java.io.File(commits, "2").delete())
    new java.io.File(commits, ".2.crc").delete()
    drain(in, out, ckpt, corpus)
    assert(output(out) == want, "the replayed batch rewrites the same output")
    assert(stateRows(out).sorted == wantState.sorted,
      "a replay after the state commit adds no duplicate")
    assert(Seq(0L, 1L, 2L).forall(b => new java.io.File(commits, s"$b").exists))
  }

  test("a writer killed after its claim makes the sink skip its fold, not fail, until vacuum sweeps the claim") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-staleclaim").toString + "/state"
    def batch(b: Long): Unit = Streams.txUpsertBatch(spark, root,
      Seq((b, b)).toDF("nbr", "batch"), b, Seq("nbr", "batch"), "batch", None,
      2, Nil, Nil, conflictDetect = false, conflictWaitMs = 60000L, "t")
    def live = TxTable.read(spark, root).select("nbr").as[Long].collect().sorted.toSeq
    batch(0L)
    // the killed writer: a claim marker and nothing else
    val stale = TxTable.committedIds(root).max + 1
    graft.sources.Fs.createMarker(s"$root/_txn/claims/c$stale", "claimed")
    batch(1L)
    batch(2L) // a fold cadence: the checkpoint aborts over the stale claim
    assert(TxTable.checkpointIds(root).isEmpty)
    assert(live == Seq(0L, 1L, 2L))
    // once the claim outlives the grace window vacuum sweeps it, and the
    // next cadence folds
    TxTable.vacuum(spark, root, graceMs = 0L)
    batch(3L)
    batch(4L)
    assert(TxTable.checkpointIds(root).nonEmpty)
    assert(live == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
