package graft

import graft.sources.Fs
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * An adversarial object-store stand-in (round 16, judge ask): local
 * storage exposed under the `hostile:` scheme with the two properties
 * the TxTable commit protocol claims it does NOT depend on:
 *
 *   - **No rename atomicity**: every rename OUTSIDE a committer
 *     `_temporary` staging dir throws. Object stores implement rename as
 *     copy+delete (non-atomic, non-cheap); a protocol that renames a
 *     pointer or a commit into place is broken there. The
 *     `_temporary` carve-out exists because Spark's own parquet
 *     committer stages through renames — a separate, well-known problem
 *     with its own cloud committers, deliberately out of scope; the
 *     assertion made here is that the COMMIT layer (claims, markers,
 *     vacuum, resolution) attempts ZERO renames, counted.
 *
 *   - **No list freshness**: a directory's listing can be FROZEN to a
 *     snapshot taken earlier, so two listings the protocol takes at
 *     different times can disagree — the race the vacuum's id-below-tip
 *     bound defends against, exercised by an actually-stale listing
 *     instead of a code comment.
 */
class HostileFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "hostile"
  override def getUri: java.net.URI = java.net.URI.create("hostile:///")

  override def rename(src: Path, dst: Path): Boolean = {
    if (src.toString.contains("_temporary") || dst.toString.contains("_temporary"))
      super.rename(src, dst)
    else {
      HostileFileSystem.deniedRenames.incrementAndGet()
      throw new java.io.IOException(s"hostile: rename denied ($src -> $dst)")
    }
  }

  override def listStatus(p: Path): Array[FileStatus] =
    HostileFileSystem.frozen.get(p.toUri.getPath) match {
      case Some(snap) => snap
      case None => super.listStatus(p)
    }
}

object HostileFileSystem {
  val deniedRenames = new java.util.concurrent.atomic.AtomicInteger(0)
  val frozen = new scala.collection.concurrent.TrieMap[String, Array[FileStatus]]()

  /** Pin `dir`'s listing to its CURRENT content: later creations and
    * deletions under it stay invisible to listStatus until [[thaw]]. */
  def freeze(dir: String): Unit = {
    val (fs, p) = Fs.fileSystem(dir)
    frozen.put(p.toUri.getPath, fs.listStatus(p))
  }
  def thaw(dir: String): Unit = frozen.remove(new Path(dir).toUri.getPath)
}

class HostileFsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.hostile.impl", classOf[HostileFileSystem].getName)
    s
  }
  import spark.implicits._

  private def hostileDir(tag: String): String =
    "hostile:" + java.nio.file.Files.createTempDirectory(tag).toString

  test("txtable sink commits and resolves on a no-rename store with zero renames") {
    import graft.sources.TxTable
    val table = hostileDir("graft-hostile-sink") + "/table"
    // checkpoint and source stay on file:. — at scale the checkpoint
    // lives on HDFS (Structured Streaming's offset log DOES rename);
    // only the TABLE sits on the object store, which is the claim
    val local = java.nio.file.Files.createTempDirectory("graft-hostile-aux").toString
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "tag", "v")
      .coalesce(1).write.mode("append").json(s"$local/in")
    val stream = spark.readStream.schema("id LONG, tag STRING, v LONG")
      .json(s"$local/in")
    val before = HostileFileSystem.deniedRenames.get()
    val q = stream.writeStream.format("txtable").option("keys", "id")
      .option("versionCol", "v").option("checkpointLocation", s"$local/ckpt")
      .start(table)
    try {
      q.processAllAvailable()
      Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("id", "tag", "v")
        .coalesce(1).write.mode("append").json(s"$local/in")
      q.processAllAvailable()
    } finally q.stop()
    // the empty create plus one commit per batch, resolved through the
    // markers
    assert(TxTable.committedIds(table) == Seq(0L, 1L, 2L))
    val cur = TxTable.read(spark, table)
    assert(cur.count() == 3)
    assert(cur.filter(col("id") === 2L).select("tag").as[String].head() == "b2")
    // the write path staged through _temporary renames (allowed), but the
    // sink itself never attempted one: claims and commits (the batch's
    // replay record inside) are create-once PUTs
    assert(HostileFileSystem.deniedRenames.get() == before,
      "the sink attempted a rename — broken on object stores")
  }

  test("TxTable's full lifecycle runs rename-free on the hostile scheme") {
    import graft.sources.TxTable
    val root = hostileDir("graft-hostile-tx") + "/t"
    val before = HostileFileSystem.deniedRenames.get()
    TxTable.create(spark, root,
      (0L until 100L).map(i => (i, 100.0 + i, 0L)).toDF("id", "price", "version"))
    TxTable.upsert(spark, root,
      Seq((7L, 7777.0, 1L)).toDF("id", "price", "version"),
      Seq("id"), "version")
    TxTable.checkpoint(spark, root)
    TxTable.expire(spark, root)
    TxTable.upsert(spark, root,
      Seq((8L, 0.0, 2L, "d")).toDF("id", "price", "version", "op"),
      Seq("id"), "version", opCol = Some("op"))
    val got = TxTable.read(spark, root)
    assert(got.count() == 99)
    assert(got.filter(col("id") === 7L).head.getDouble(1) == 7777.0)
    assert(TxTable.vacuum(spark, root).isEmpty)
    assert(HostileFileSystem.deniedRenames.get() == before,
      "the TxTable layer attempted a rename — broken on object stores")
  }

  test("the round-18 TxTable surface runs rename-free on the hostile scheme") {
    import graft.sources.TxTable
    val root = hostileDir("graft-hostile-tx18") + "/t"
    val before = HostileFileSystem.deniedRenames.get()
    TxTable.create(spark, root,
      (0L until 100L).map(i => (i, s"c${i % 4}", 100.0 + i, 0L))
        .toDF("id", "cat", "price", "version"),
      partitionCols = Seq("cat"))
    // optimistic upsert (sidecar + validation listings)
    TxTable.upsert(spark, root,
      Seq((7L, "c3", 7777.0, 1L)).toDF("id", "cat", "price", "version"),
      Seq("id"), "version", partitionCols = Seq("cat"),
      conflictDetect = true)
    // predicate DML
    TxTable.deleteWhere(spark, root, col("id") % 10 === 9L)
    TxTable.updateWhere(spark, root, col("id") === 2L,
      Map("price" -> lit(2222.0)), partitionCols = Seq("cat"))
    // cursor feed + policy-driven maintenance (fold at maxTail=2)
    val feed = TxTable.changeFeed(spark, root, Seq("id"), withPreimage = true)
    assert(feed.filter(col("op") === "d").count() === 10L)
    val actions = TxTable.maintain(spark, root, maxTail = 2,
      partitionCols = Seq("cat"), graceMs = 0L)
    assert(actions.exists(_.startsWith("checkpoint")), s"got $actions")
    val got = TxTable.read(spark, root)
    assert(got.count() === 90L)
    assert(got.filter(col("id") === 7L).head.getAs[Double]("price") === 7777.0)
    assert(got.filter(col("id") === 2L).head.getAs[Double]("price") === 2222.0)
    assert(HostileFileSystem.deniedRenames.get() == before,
      "a round-18 op attempted a rename — broken on object stores")
  }

  test("a stale TxTable commit listing yields the OLD snapshot; vacuum stays conservative") {
    import graft.sources.TxTable
    val root = hostileDir("graft-hostile-txstale") + "/t"
    TxTable.create(spark, root,
      (0L until 50L).map(i => (i, 100.0 + i, 0L)).toDF("id", "price", "version"))
    // a reader's view of _txn/commits freezes BEFORE the next commit
    HostileFileSystem.freeze(s"$root/_txn/commits")
    try {
      val k = TxTable.upsert(spark, root,
        Seq((3L, 3333.0, 1L)).toDF("id", "price", "version"),
        Seq("id"), "version")
      // stale listing ⇒ the reader resolves the PREVIOUS snapshot —
      // consistent, never an error, never a half-commit
      val stale = TxTable.read(spark, root)
      assert(stale.count() == 50)
      assert(stale.filter(col("id") === 3L).head.getDouble(1) == 103.0)
      // and vacuum under the stale view must not eat the fresh commit
      // (its id is NOT below the stale tip — the id<tip bound holds)
      val swept = TxTable.vacuum(spark, root)
      assert(!swept.exists(_.endsWith(s"/data/c$k")),
        "stale-listing vacuum destroyed a committed-but-unseen commit")
    } finally HostileFileSystem.thaw(s"$root/_txn/commits")
    // fresh listing: the commit is simply there
    val fresh = TxTable.read(spark, root)
    assert(fresh.filter(col("id") === 3L).head.getDouble(1) == 3333.0)
  }
}
