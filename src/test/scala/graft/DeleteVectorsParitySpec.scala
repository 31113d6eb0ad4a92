package graft

import graft.sources.{Fs, ParquetIO, TxTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Parity of [[TxTable]]'s in-scan deletion-vector application against a
 * plain-Spark reference built inside this spec: the data dirs scanned
 * with `_metadata` row identity, the `_txn/dv/<k>` sidecars read with
 * `spark.read.parquet`, exploded to one (file, row) per set bit, and
 * anti-/semi-joined to the scan. Over a multi-commit table whose deletes
 * overlap across several files, the snapshot, every time-travel
 * snapshot, `readSkipping` and the change feed must equal the reference.
 */
class DeleteVectorsParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-dvp").toString

  private def dataDirs(t: String, ks: Seq[Long]): Seq[String] =
    ks.map(k => s"$t/data/c$k").filter(Fs.isDirectory(_))

  private def withRowId(dirs: Seq[String]): DataFrame =
    dirs.map(d => spark.read.parquet(d).select(col("*"),
        col("_metadata.file_path").as("__f"), col("_metadata.row_index").as("__r")))
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** (file, row) pairs the sidecars of commits `ks` mark dead. */
  private def deadRows(t: String, ks: Seq[Long]): DataFrame = {
    val dirs = ks.map(k => s"$t/_txn/dv/$k").filter(Fs.isDirectory(_))
    if (dirs.isEmpty) spark.range(0).select(lit("").as("__f"), col("id").as("__r"))
    else spark.read.parquet(dirs: _*)
      .select(col("file_path").as("__f"), explode(col("dv")).as(Seq("word", "mask")))
      .select(col("__f"), col("word"), col("mask"),
        explode(sequence(lit(0L), lit(63L))).as("bit"))
      .filter(expr("(mask >>> cast(bit AS int)) & 1") === 1L)
      .select(col("__f"), (col("word") * 64L + col("bit")).as("__r"))
      .distinct()
  }

  /** The snapshot at `asOf`: every data row of commits ≤ asOf that no
    * sidecar of those commits kills. */
  private def reference(t: String, asOf: Long = Long.MaxValue): DataFrame = {
    val ks = TxTable.committedIds(t).filter(_ <= asOf)
    withRowId(dataDirs(t, ks)).join(deadRows(t, ks), Seq("__f", "__r"), "left_anti")
      .drop("__f", "__r")
  }

  /** The feed: per commit, the rows its own sidecar kills diffed by key
    * to the rows its data dir adds. */
  private def referenceFeed(t: String, keys: Seq[String]): DataFrame = {
    val all = TxTable.committedIds(t)
    val scan = withRowId(dataDirs(t, all))
    all.map { k =>
      val kills = scan.join(deadRows(t, Seq(k)), Seq("__f", "__r"), "left_semi")
        .drop("__f", "__r")
      val adds = dataDirs(t, Seq(k)).headOption.map(spark.read.parquet)
        .getOrElse(kills.filter(lit(false)))
      ParquetIO.changeFeed(kills, adds, keys).withColumn("commit", lit(k))
    }.reduce(_.unionByName(_))
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = got.select(want.columns.map(col): _*)
    assert(g.count() === want.count(), s"$what: row count")
    assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty, s"$what: rows differ")
  }

  test("in-scan DVs == sidecars exploded and joined: snapshot, time travel, skipping, feed") {
    import spark.implicits._
    val t = tmp() + "/t"
    TxTable.create(spark, t, (0 until 4000).map(i => (i.toLong, s"name$i", i % 10, 0L))
      .toDF("id", "name", "bucket", "version").repartition(4))
    val ks = Seq(
      TxTable.deleteWhere(spark, t, col("id") % 7 === 0),
      TxTable.upsert(spark, t, (0 until 4000 by 11).map(i => (i.toLong, s"new$i", i % 10, 1L))
        .toDF("id", "name", "bucket", "version").repartition(2), Seq("id"), "version"),
      // overlaps the first delete and the upsert's re-added rows
      TxTable.deleteWhere(spark, t, col("id").between(500, 1500)),
      TxTable.append(spark, t, (4000 until 4500).map(i => (i.toLong, s"name$i", i % 10, 0L))
        .toDF("id", "name", "bucket", "version")),
      TxTable.deleteWhere(spark, t, col("bucket") === 3 && col("id") % 2 === 1),
      TxTable.deleteWhere(spark, t, col("id") % 13 === 0))
    assert(Fs.listFiles(s"$t/data/c0").count(_.getPath.getName.endsWith(".parquet")) > 1,
      "the deletes must span several files")

    assertSame(TxTable.read(spark, t), reference(t), "snapshot")
    (0L +: ks).foreach(k => assertSame(TxTable.readAt(spark, t, k), reference(t, k), s"as of $k"))
    TxTable.buildManifest(spark, t)
    assertSame(TxTable.readSkipping(spark, t, "id", 900L, 4200L),
      reference(t).filter(col("id").between(900L, 4200L)), "readSkipping")
    val feed = TxTable.changeFeed(spark, t, Seq("id"))
    assertSame(feed, referenceFeed(t, Seq("id")).select(feed.columns.map(col): _*), "changeFeed")
  }
}
