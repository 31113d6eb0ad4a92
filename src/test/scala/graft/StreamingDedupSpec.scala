package graft

import graft.streaming.Streams
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local store that fails the n-th step of a commit sequence after
  * [[StepFaultFileSystem.arm]]`(n)`: a step is a commit-marker create
  * (it throws, as a crash there would) or a commit data-dir delete (it
  * fails, and `Fs` carries on, as a sweep that leaves a dir behind
  * would). Fires once per arming. */
class StepFaultFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "stepfault"
  override def getUri: java.net.URI = java.net.URI.create("stepfault:///")

  private def guardCreate(f: Path): Unit = {
    val p = f.toUri.getPath
    if (p.contains("/_txn/commits/")) StepFaultFileSystem.step(f)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    guardCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    guardCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (f.toUri.getPath.matches(".*/data/c\\d+")) StepFaultFileSystem.step(f)
    super.delete(f, recursive)
  }
}

object StepFaultFileSystem {
  private val failAt = new java.util.concurrent.atomic.AtomicInteger(0)
  private val seen = new java.util.concurrent.atomic.AtomicInteger(0)
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)

  def arm(n: Int): Unit = { seen.set(0); fired.set(false); failAt.set(n) }

  /** Disarm; true when the armed step was reached. */
  def disarm(): Boolean = { failAt.set(0); fired.get }

  private[graft] def step(f: Path): Unit =
    if (failAt.get > 0 && seen.incrementAndGet() == failAt.get) {
      failAt.set(0)
      fired.set(true)
      throw new java.io.IOException(s"stepfault: step denied ($f)")
    }
}

/** Streaming ingest dedup == batch exact dedup on a doubled corpus: the
  * streamed survivor count equals the number of distinct texts, and no
  * content hash survives twice. */
class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming content dedup drains to the batch exact-dedup result") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .select("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-sdd").toString
    // simulate a crawl re-delivering the corpus: originals + shifted ids
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100000L))
      .write.parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$base/in")
      // event time derived so a doc and its redelivery share a timestamp
      // inside the horizon
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) + pmod(col("doc_id"), lit(100000L)) * 1000L))
    val q = Streams.runToMemory(
      Streams.contentDedupStream(stream, "ts", "text", watermark = "1 hour"), "sdd")
    try {
      val got = spark.table("sdd")
      assert(got.count() == docs.select("text").distinct().count())
      // no text survives twice
      assert(got.groupBy(sha2(col("text"), 256)).count().filter(col("count") > 1).count() == 0)
    } finally q.stop()
  }

  test("streaming image dedup flags noisy twins against the standing corpus") {
    import graft.operators.Multimodal
    // standing corpus: base images of docs 0..99; arriving batch: noisy
    // TWINS of every 7th doc (perceptual dups) + fresh images of docs
    // 300..339 (unseen — a range verified collision-free against the
    // corpus under the fixture formula, so none may flag)
    val ids = (0L until 100L).toDF("doc_id")
    val corpus = Multimodal.attachPngCorpus(ids, noisyEvery = 0)
    val twins = Multimodal.attachPngCorpus(
        ids.filter(col("doc_id") % 7 === 0), noisyEvery = 1)
      .filter(col("doc_id") >= 1000000L) // keep only the noisy twins
    val fresh = Multimodal.attachPngCorpus(
      (300L until 340L).toDF("doc_id"), noisyEvery = 0)
    val base = java.nio.file.Files.createTempDirectory("graft-imgdd").toString
    twins.unionByName(fresh).write.parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    val q = Streams.imageDedupSink(
      spark.readStream.schema(schema).parquet(s"$base/in"),
      corpus, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 15 + 40) // 15 twins (0,7,...,98) + 40 fresh
    val dups = out.filter(col("is_dup") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    // every twin flags, pointing at ITS base image, within tiny hamming
    assert(dups.map(_._1).sorted.toSeq ==
      (0L until 100L by 7L).map(_ + 1000000L).sorted.toSeq)
    assert(dups.forall { case (id, dupOf, hm) => dupOf == id - 1000000L && hm <= 3 },
      s"twins must resolve to their base: ${dups.toSeq}")
    // fresh images never flag
    assert(out.filter(col("id") >= 300L && col("id") < 340L)
      .filter(col("is_dup") === 1).count() == 0)
  }

  // round 14: the generalized perceptualDedupSink drives audio and video
  // through the SAME machinery; each spec checks the stream against a
  // driver-computed exact reference (best corpus neighbor by (hamming,
  // id) from the same hasher), so no fixture collision-range assumption
  // is baked in — whatever the true neighbor structure is, the sink must
  // reproduce it.
  // Round 15 (Δ×Δ): within one micro-batch the standing side is the
  // corpus PLUS every lower-id arrival (the least-id-canonical
  // convention) — the reference mirrors the sink's full contract, so
  // intra-arrival near-dups are part of the exact expectation, not an
  // excluded case.
  private def bestNeighborReference(arriving: Map[Long, Long],
      corpus: Map[Long, Long], maxHamming: Int): Map[Long, Option[(Long, Int)]] =
    arriving.map { case (id, h) =>
      val standing = corpus ++ arriving.filter { case (aid, _) => aid < id }
      val cands = standing.toSeq
        .map { case (nbr, nh) => (nbr, java.lang.Long.bitCount(h ^ nh)) }
        .filter(_._2 <= maxHamming)
      id -> (if (cands.isEmpty) None
             else Some(cands.minBy { case (nbr, hm) => (hm, nbr) })
               .map { case (nbr, hm) => (nbr, hm) })
    }

  private def hashMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def runSinkAndCheck(kind: String,
      corpus: org.apache.spark.sql.DataFrame,
      arriving: org.apache.spark.sql.DataFrame,
      hasher: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      mkSink: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, String) => org.apache.spark.sql.streaming.StreamingQuery,
      maxHamming: Int): Unit = {
    val base = java.nio.file.Files.createTempDirectory(s"graft-${kind}dd").toString
    arriving.write.parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    val q = mkSink(spark.readStream.schema(schema).parquet(s"$base/in"),
      corpus, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val want = bestNeighborReference(
      hashMap(hasher(arriving)), hashMap(hasher(corpus)), maxHamming)
    val got = spark.read.parquet(s"$base/out").collect().map { r =>
      r.getLong(0) -> (if (r.getInt(1) == 1) Some((r.getLong(2), r.getInt(3)))
                       else None)
    }.toMap
    assert(got.keySet == want.keySet, s"$kind: id sets differ")
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"$kind id=$id: got ${got(id)} want $w")
    }
    // the fixture must actually exercise both outcomes
    assert(want.values.exists(_.isDefined), s"$kind: no dup in fixture")
    assert(want.values.exists(_.isEmpty), s"$kind: no non-dup in fixture")
  }

  test("streaming audio dedup matches the exact best-neighbor reference") {
    import graft.operators.Multimodal
    val ids = (0L until 80L).toDF("doc_id")
    val corpus = Multimodal.attachWavCorpus(ids, noisyEvery = 0)
    val arriving = Multimodal.attachWavCorpus(
        ids.filter(col("doc_id") % 7 === 0), noisyEvery = 1)
      .filter(col("doc_id") >= 1000000L) // noisy twins of every 7th doc
      .unionByName(Multimodal.attachWavCorpus(
        (500L until 520L).toDF("doc_id"), noisyEvery = 0))
    runSinkAndCheck("audio", corpus, arriving,
      d => Multimodal.audioEnergyHash(d),
      (s, c, o, ck) => Streams.audioDedupSink(s, c, o, ck), maxHamming = 6)
  }

  test("perceptual sink flags twins split ACROSS micro-batches (round 15)") {
    import graft.operators.Multimodal
    // corpus: bases 0..99. Batch 1 delivers the BASE image of doc 300
    // (collision-free vs the corpus — must pass). Batch 2 delivers its
    // noisy twin 1000300 — under the r14 corpus-only contract it passed
    // silently; the Δ×Δ standing table must flag it with dup_of = 300.
    // Batch 2 also carries a SAME-BATCH twin pair (301, 1000301): the
    // higher id flags against the lower, the lower passes.
    val corpus = Multimodal.attachPngCorpus((0L until 100L).toDF("doc_id"),
      noisyEvery = 0)
    val b1 = Multimodal.attachPngCorpus(Seq(300L).toDF("doc_id"), noisyEvery = 0)
    val twinOf = (ids: Seq[Long]) => Multimodal.attachPngCorpus(
        ids.toDF("doc_id"), noisyEvery = 1)
      .filter(col("doc_id") >= 1000000L)
    val b2 = twinOf(Seq(300L))
      .unionByName(Multimodal.attachPngCorpus(Seq(301L).toDF("doc_id"), noisyEvery = 0))
      .unionByName(twinOf(Seq(301L)))
    val base = java.nio.file.Files.createTempDirectory("graft-xbatch").toString
    b1.coalesce(1).write.parquet(s"$base/in/f0")
    b2.coalesce(1).write.parquet(s"$base/in/f1")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
    val q = Streams.imageDedupSink(stream, corpus, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("id", "is_dup", "dup_of").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(got.keySet == Set(300L, 1000300L, 301L, 1000301L))
    assert(got(300L) == ((0, None)), "first copy (batch 1) must pass")
    assert(got(1000300L) == ((1, Some(300L))),
      "the cross-batch twin must flag with dup_of = the EARLIER ARRIVAL")
    assert(got(301L) == ((0, None)), "same-batch lower id is canonical")
    assert(got(1000301L) == ((1, Some(301L))),
      "the same-batch twin's higher id must flag against the lower")
  }

  test("semantic sink flags twins split ACROSS micro-batches (round 15)") {
    // corpus: 5 planted clusters. Batch 1 delivers a vector FAR from the
    // corpus (id 9000 — must pass); batch 2 its near-copy (id 9001 —
    // must flag with dup_of = 9000) plus a same-batch twin pair
    // (9100, 9101) also far from the corpus: 9101 flags against 9100.
    val rnd = new scala.util.Random(47)
    val centers = Seq.fill(5)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val corpus = for (c <- 0 until 5; i <- 0 until 18) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 100 + i).toLong, v.toSeq)
    }
    val far1 = Array.fill(32)(rnd.nextGaussian().toFloat * 5f)
    val far2 = Array.fill(32)(rnd.nextGaussian().toFloat * 5f)
    val b1 = Seq((9000L, far1.toSeq))
    val b2 = Seq(
      (9001L, far1.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq),
      (9100L, far2.toSeq),
      (9101L, far2.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq))
    val base = java.nio.file.Files.createTempDirectory("graft-xbsem").toString
    b1.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f0")
    b2.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f1")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
    val q = Streams.semanticDedupSink(stream, corpus.toDF("vec_id", "embedding"),
      s"$base/out", s"$base/ckpt", "vec_id", "embedding", minCos = 0.9)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("id", "is_dup", "dup_of").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(got.keySet == Set(9000L, 9001L, 9100L, 9101L))
    assert(got(9000L) == ((0, None)), "first copy (batch 1) must pass")
    assert(got(9001L)._1 == 1 && got(9001L)._2 == Some(9000L),
      "the cross-batch twin must flag with dup_of = the EARLIER ARRIVAL")
    assert(got(9100L) == ((0, None)), "same-batch lower id is canonical")
    assert(got(9101L)._1 == 1 && got(9101L)._2 == Some(9100L),
      "the same-batch twin's higher id must flag against the lower")
  }

  test("a crashed partial seed (an uncommitted state create) is re-seeded on restart") {
    import graft.operators.Multimodal
    import graft.sources.TxTable
    val corpus = Multimodal.attachPngCorpus((0L until 100L).toDF("doc_id"),
      noisyEvery = 0)
    val base = java.nio.file.Files.createTempDirectory("graft-seedcrash").toString
    val state = s"$base/out/_stream_state"
    // simulate a crash mid-create: HALF the corpus hashes land in the
    // state table's first data dir and no commit marker follows. A
    // restart that trusted the dir would never flag the missing half.
    Multimodal.imageAHash(corpus.filter(col("doc_id") >= 50L), "doc_id", "media")
      .select(col("doc_id").as("nbr"), lit(-1L).as("batch"),
        col("ahash").as("nbr_hash"))
      .write.parquet(s"$state/data/c0")
    // arriving: a noisy twin of doc 0 — its base hash is in the MISSING
    // half of the partial seed
    val twin = Multimodal.attachPngCorpus(Seq(0L).toDF("doc_id"), noisyEvery = 1)
      .filter(col("doc_id") >= 1000000L)
    twin.coalesce(1).write.parquet(s"$base/in")
    val schema = spark.read.parquet(s"$base/in").schema
    val q = Streams.imageDedupSink(
      spark.readStream.schema(schema).parquet(s"$base/in"),
      corpus, s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(TxTable.committedIds(state).nonEmpty)
    val seeded = TxTable.read(spark, state).filter(col("batch") === -1L)
      .select("nbr").as[Long].collect().sorted.toSeq
    assert(seeded == (0L until 100L), "the restart seeds every corpus hash once")
    val got = spark.read.parquet(s"$base/out")
      .select("id", "is_dup", "dup_of").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(got == Seq((1000000L, 1, Some(0L))),
      s"the re-seeded sink must flag the twin of the once-missing base: $got")
  }

  test("standing stream-state compaction bounds subdir growth without changing flags (round 16)") {
    import graft.operators.Multimodal
    import graft.sources.TxTable
    val corpus = Multimodal.attachPngCorpus((0L until 50L).toDF("doc_id"),
      noisyEvery = 0)
    val base = java.nio.file.Files.createTempDirectory("graft-compact").toString
    def png(ids: Seq[Long], noisy: Boolean) = {
      val df = Multimodal.attachPngCorpus(ids.toDF("doc_id"),
        noisyEvery = if (noisy) 1 else 0)
      if (noisy) df.filter(col("doc_id") >= 1000000L) else df
    }
    // four single-file micro-batches; compactEvery=2 folds at batch 2
    png(Seq(300L), noisy = false).coalesce(1).write.parquet(s"$base/in/f0")
    png(Seq(300L), noisy = true).coalesce(1).write.parquet(s"$base/in/f1")
    png(Seq(310L), noisy = false).coalesce(1).write.parquet(s"$base/in/f2")
    png(Seq(310L), noisy = true).coalesce(1).write.parquet(s"$base/in/f3")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*")
    val q = Streams.perceptualDedupSink(stream, corpus, s"$base/out",
      s"$base/ckpt", (d, i, m) => Multimodal.imageAHash(d, i, m),
      compactEvery = 2)
    try q.processAllAvailable() finally q.stop()
    // the state resolves to the checkpoint + batch 3's commit, and the
    // expired commits' data dirs are gone
    val state = s"$base/out/_stream_state"
    val cps = TxTable.checkpointIds(state)
    val ids = TxTable.committedIds(state)
    assert(cps.size == 1 && ids.size == 2 && ids.head == cps.head,
      s"state not folded to checkpoint + tail: commits $ids, checkpoints $cps")
    val dataDirs = graft.sources.Fs.listDirs(s"$state/data").map(_.getPath.getName)
    assert(dataDirs.size <= 2, s"expired commit dirs left behind: $dataDirs")
    val rows = TxTable.read(spark, state).select("nbr", "batch")
      .as[(Long, Long)].collect().toSeq
    assert(rows.size == 54 && rows.distinct.size == 54,
      s"the fold must keep every standing row once: ${rows.sorted}")
    // flags are what the uncompacted run produces: cross-batch twins
    // resolve to their earlier arrival, first copies pass
    val got = spark.read.parquet(s"$base/out")
      .select("id", "is_dup", "dup_of").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got(300L) == ((0, None)) && got(310L) == ((0, None)))
    assert(got(1000300L) == ((1, Some(300L))))
    assert(got(1000310L) == ((1, Some(310L))))
  }

  test("replayed compaction after a partial source sweep loses no standing rows (round 17)") {
    import graft.sources.TxTable
    spark.sparkContext.hadoopConfiguration
      .set("fs.stepfault.impl", classOf[StepFaultFileSystem].getName)
    def rows(ids: Seq[Long], b: Long) =
      ids.map(i => (i, b, i * 7)).toDF("nbr", "batch", "nbr_hash")
    def commit(root: String, b: Long): Unit =
      Streams.txUpsertBatch(spark, root, rows(Seq(100L + b), b), b,
        Seq("nbr", "batch"), "batch", None, 2, Nil, Nil,
        conflictDetect = false, conflictWaitMs = 60000L, "t")
    def live(root: String) = TxTable.read(spark, root)
      .select("nbr", "batch").as[(Long, Long)].collect().toSeq
    val before = (0L until 10L).map(_ -> -1L) ++ Seq(100L -> 0L, 101L -> 1L)
    val after = before :+ (102L -> 2L)
    // batch 2 is a fold cadence: its own commit (its replay record
    // inside), then checkpoint + expire + vacuum. Interrupt it at each
    // of those steps in turn, on a fresh table each time, until a run
    // passes every step
    var step = 1
    var fired = true
    while (fired) {
      val root = "stepfault:" +
        java.nio.file.Files.createTempDirectory("graft-cst").toString + "/state"
      TxTable.create(spark, root, rows(0L until 10L, -1L))
      commit(root, 0L)
      commit(root, 1L)
      StepFaultFileSystem.arm(step)
      try commit(root, 2L)
      catch { case e: Exception if e.toString.contains("stepfault") => () }
      finally fired = StepFaultFileSystem.disarm()
      val mid = live(root)
      assert(mid.size == mid.distinct.size, s"step $step: duplicate rows $mid")
      assert(mid.toSet == before.toSet || mid.toSet == after.toSet,
        s"step $step: the interrupted fold lost or half-applied rows: ${mid.sorted}")
      // the replay of batch 2 finishes the fold and keeps every row once
      commit(root, 2L)
      val end = live(root)
      assert(end.size == end.distinct.size && end.toSet == after.toSet,
        s"step $step: the replayed fold must keep every row once: ${end.sorted}")
      assert(TxTable.checkpointIds(root).nonEmpty, s"step $step: no fold")
      step += 1
    }
    // the batch commit, the checkpoint commit and four expired data dirs
    assert(step - 2 == 6, s"the fold had ${step - 2} interruptible steps, not 6")
  }

  test("semantic sink restart reloads the persisted quantizer across a corpus change (round 16)") {
    val rnd = new scala.util.Random(53)
    val centers = Seq.fill(5)(Array.fill(32)(rnd.nextGaussian().toFloat))
    val corpus1 = for (c <- 0 until 5; i <- 0 until 18) yield {
      val v = centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat)
      ((c * 100 + i).toLong, v.toSeq)
    }
    val far = Array.fill(32)(rnd.nextGaussian().toFloat * 5f)
    val base = java.nio.file.Files.createTempDirectory("graft-restartsem").toString
    Seq((9000L, far.toSeq)).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$base/in/f0")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    def start(corpus: Seq[(Long, Seq[Float])]) = Streams.semanticDedupSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in/*"),
      corpus.toDF("vec_id", "embedding"),
      s"$base/out", s"$base/ckpt", "vec_id", "embedding", minCos = 0.9)
    val q1 = start(corpus1)
    try q1.processAllAvailable() finally q1.stop()
    assert(graft.sources.Fs.exists(s"$base/out/_index_cents/_SAVED"))
    // the corpus CHANGES across the restart (new clusters appended) — a
    // retrained quantizer would shift the cell space under the standing
    // stream history; the persisted centroids keep 9000's persisted
    // cells collision-compatible with its arriving near-copy
    val extra = for (c <- 0 until 5; i <- 0 until 10) yield {
      val nc = Array.fill(32)(rnd.nextGaussian().toFloat)
      ((2000 + c * 100 + i).toLong,
        nc.map(x => x + 0.15f * rnd.nextGaussian().toFloat).toSeq)
    }
    Seq((9001L, far.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq))
      .toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$base/in/f1")
    val q2 = start(corpus1 ++ extra)
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("id", "is_dup", "dup_of").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    assert(got(9000L) == ((0, None)), "the first copy (pre-restart) must pass")
    assert(got(9001L)._1 == 1 && got(9001L)._2 == Some(9000L),
      s"the cross-RESTART twin must flag against the pre-restart arrival: ${got(9001L)}")
  }

  test("streaming video dedup matches the exact best-neighbor reference") {
    import graft.operators.Multimodal
    val ids = (0L until 60L).toDF("doc_id")
    val corpus = Multimodal.attachVideoCorpus(ids, noisyEvery = 0)
    val arriving = Multimodal.attachVideoCorpus(
        ids.filter(col("doc_id") % 7 === 0), noisyEvery = 1)
      .filter(col("doc_id") >= 1000000L)
      .unionByName(Multimodal.attachVideoCorpus(
        (500L until 515L).toDF("doc_id"), noisyEvery = 0))
    runSinkAndCheck("video", corpus, arriving,
      d => Multimodal.videoAHash(d, nSample = 3),
      (s, c, o, ck) => Streams.videoDedupSink(s, c, o, ck), maxHamming = 6)
  }
}
