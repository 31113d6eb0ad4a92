package graft

import graft.sources.{Fs, TxTable}
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local store whose commit-marker creates throw while [[armed]] —
  * the failure lands at the last step of a commit, after every leg and
  * every validation passed. */
class MarkerFaultFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "markerfault"
  override def getUri: java.net.URI = java.net.URI.create("markerfault:///")

  private def guard(f: Path): Unit =
    if (MarkerFaultFileSystem.armed.get && f.toUri.getPath.contains("/_txn/commits/"))
      throw new java.io.IOException(s"markerfault: create denied ($f)")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    guard(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    guard(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
}

object MarkerFaultFileSystem {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
}

/**
 * Every TxTable commit runs one sequence — claim, legs, validation,
 * marker — and a failure at ANY step after the claim abandons the id.
 * Each test fails an operation at one step and then checks that the
 * table is exactly as before: same committed ids, same live rows, no
 * claim, data, DV or key-sidecar dir left for the failed id, and a
 * checkpoint (which aborts over any unredeemed lower claim) succeeds.
 */
class TxCommitFaultSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.markerfault.impl", classOf[MarkerFaultFileSystem].getName)
    s
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-txfault").toString

  private def base(n: Int = 200): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name$i", 100.0 + i, 0L))
      .toDF("id", "name", "price", "version")
  }

  private def rows(df: DataFrame): Set[(Long, String, Double, Long)] =
    df.select("id", "name", "price", "version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet

  /** Ids named under `dir` (`c<k>` or `<k>` entries), files and dirs. */
  private def idsUnder(dir: String): Set[Long] =
    if (!Fs.isDirectory(dir)) Set.empty
    else {
      val (fs, p) = Fs.fileSystem(dir)
      fs.listStatus(p).map(_.getPath.getName.stripPrefix("c"))
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).toSet
    }

  /** Run `op`, expect it to fail, and check nothing of it is left. */
  private def failsCleanly(t: String)(op: => Any): Throwable = {
    val ids = TxTable.committedIds(t)
    val live = rows(TxTable.read(spark, t))
    val err = intercept[Throwable](op)
    assert(TxTable.committedIds(t) === ids, s"the failed commit must not land: $err")
    assert(rows(TxTable.read(spark, t)) === live, s"the snapshot must not change: $err")
    val committed = ids.toSet
    Seq("_txn/claims", "data", "_txn/dv", "_txn/keys", "_txn/checkpoints")
      .foreach { d =>
        val litter = idsUnder(s"$t/$d") -- committed
        assert(litter.isEmpty, s"$d holds ids $litter after the failure: $err")
      }
    err
  }

  /** A checkpoint aborts over any unredeemed lower claim — after the
    * failures it must land, with the rows intact. */
  private def checkpointLands(t: String): Unit = {
    val live = rows(TxTable.read(spark, t))
    val k = TxTable.checkpoint(spark, t)
    assert(TxTable.checkpointIds(t).contains(k))
    assert(rows(TxTable.read(spark, t)) === live)
  }

  test("an input error found after the claim abandons the id (before the legs)") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base())
    TxTable.upsert(spark, t,
      Seq((1L, "one", 1.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "version")
    failsCleanly(t)(TxTable.deleteWhere(spark, t, col("no_such_col") > 3))
    failsCleanly(t)(TxTable.updateWhere(spark, t, col("id") === 2L,
      Map("no_such_col" -> lit(0.0))))
    failsCleanly(t)(TxTable.upsert(spark, t,
      Seq((3L, "x", 3.0, 1L)).toDF("id", "name", "price", "version"),
      Seq("id"), "no_such_version"))
    failsCleanly(t)(TxTable.mergeClauses(spark, t,
      Seq((4L, "x", 4.0, 1L)).toDF("id", "name", "price", "version"), Seq("id"),
      matched = Seq(TxTable.MatchedUpdate(Map("no_such_col" -> col("s.price"))))))
    // the same failures under optimistic concurrency leave nothing
    // either — a peer would otherwise wait a full window on the claim
    failsCleanly(t)(TxTable.deleteWhere(spark, t, col("no_such_col") > 3,
      conflictDetect = true, conflictWaitMs = 1000L))
    checkpointLands(t)
  }

  test("a leg that fails mid-write abandons the id, its sibling leg's output included") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base())
    val boom = udf((p: Double) => {
      if (p > 0) throw new IllegalStateException("injected leg failure")
      p
    })
    // the kill leg writes its vectors; the adds leg dies in the UDF
    failsCleanly(t)(TxTable.updateWhere(spark, t, col("id") < 5L,
      Map("price" -> boom(col("price")))))
    failsCleanly(t)(TxTable.upsert(spark, t,
      Seq((7L, "x", 7.0, 1L)).toDF("id", "name", "price", "version")
        .withColumn("price", boom(col("price"))),
      Seq("id"), "version"))
    failsCleanly(t)(TxTable.append(spark, t,
      base(3).withColumn("price", boom(col("price")))))
    checkpointLands(t)
  }

  test("a duplicate-key MERGE source fails the check leg and abandons the id") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base())
    val dups = Seq((3L, "a", 1.0, 9L), (3L, "b", 2.0, 9L), (900L, "n", 9.0, 9L))
      .toDF("id", "name", "price", "version")
    val e1 = failsCleanly(t)(TxTable.mergeInto(spark, t, dups, Seq("id")))
    assert(e1.getMessage.contains("duplicate keys"))
    val e2 = failsCleanly(t)(TxTable.mergeClauses(spark, t, dups, Seq("id"),
      matched = Seq(TxTable.MatchedDelete()),
      notMatched = Seq(TxTable.InsertAll())))
    assert(e2.getMessage.contains("duplicate keys"))
    checkpointLands(t)
  }

  test("a commit marker that cannot be written abandons the id") {
    import spark.implicits._
    val t = "markerfault:" + tmp() + "/t"
    TxTable.create(spark, t, base())
    TxTable.deleteWhere(spark, t, col("id") % 7 === 0L)
    MarkerFaultFileSystem.armed.set(true)
    try {
      failsCleanly(t)(TxTable.append(spark, t, base(3).withColumn("id", col("id") + 1000L),
        conflictKeys = Seq("id")))
      failsCleanly(t)(TxTable.upsert(spark, t,
        Seq((1L, "u", 1.0, 1L), (2L, "d", 2.0, 1L)).toDF("id", "name", "price", "version")
          .withColumn("op", when(col("name") === "d", "d").otherwise("u")),
        Seq("id"), "version", opCol = Some("op")))
      failsCleanly(t)(TxTable.deleteWhere(spark, t, col("id") < 10L))
      failsCleanly(t)(TxTable.updateWhere(spark, t, col("id") === 11L,
        Map("price" -> lit(0.0))))
      failsCleanly(t)(TxTable.mergeInto(spark, t,
        Seq((12L, "m", 1.0, 1L), (5000L, "n", 1.0, 1L)).toDF("id", "name", "price", "version"),
        Seq("id"), deleteNotMatchedBySource = true))
      failsCleanly(t)(TxTable.overwrite(spark, t, base(5)))
      failsCleanly(t)(TxTable.checkpoint(spark, t))
    } finally MarkerFaultFileSystem.armed.set(false)
    checkpointLands(t)
  }

  test("mergeInto with no clause commits an empty commit") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, base(20))
    val live = rows(TxTable.read(spark, t))
    val src = Seq((3L, "x", 3.0, 1L), (3L, "y", 4.0, 1L)).toDF("id", "name", "price", "version")
    // duplicate source keys do not matter without a matched clause
    val k = TxTable.mergeInto(spark, t, src, Seq("id"), matchedAction = "none",
      insertNotMatched = false, deleteNotMatchedBySource = false)
    assert(TxTable.committedIds(t) === Seq(0L, k))
    assert(rows(TxTable.read(spark, t)) === live)
    assert(!Fs.isDirectory(s"$t/data/c$k") && !Fs.isDirectory(s"$t/_txn/dv/$k"))
    intercept[IllegalArgumentException](TxTable.mergeInto(spark, t, src, Seq("id"),
      matchedAction = "upsert"))
  }
}
