package graft

import graft.sources.{Fs, ParquetIO, TxTable}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/**
 * Parity of [[TxTable.changeFeed]]'s one-pass body against the per-commit
 * diff it replaced, kept here as the reference: for each feed commit, the
 * rows its own sidecar kills (the touched files scanned with row identity
 * and semi-joined to the sidecar's set bits) diffed by key to the rows its
 * data dir adds, both sides widened to their union schema; the per-commit
 * deltas union by name with missing columns null. Each log below is one
 * shape that used to route to that fallback, compared with and without
 * preimages.
 */
class TxFeedParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-feedp").toString + "/t"

  /** The `c<k>` dir under `data` a data file belongs to. */
  private def commitDir(file: String): String =
    "^(.*/data/c\\d+)/".r.findFirstMatchIn(file).get.group(1)

  /** The rows commit `k`'s sidecar kills, read back from the data files. */
  private def killed(t: String, k: Long): Option[DataFrame] = {
    val dv = s"$t/_txn/dv/$k"
    if (!Fs.isDirectory(dv)) return None
    val bits = spark.read.parquet(dv)
      .select(col("file_path").as("__f"), explode(col("dv")).as(Seq("word", "mask")))
      .select(col("__f"), col("word"), col("mask"), explode(sequence(lit(0L), lit(63L))).as("bit"))
      .filter(expr("(mask >>> cast(bit AS int)) & 1") === 1L)
      .select(col("__f"), (col("word") * 64L + col("bit")).as("__r"))
    val files = bits.select("__f").distinct().collect().map(_.getString(0)).toSeq
    if (files.isEmpty) return None
    Some(files.groupBy(commitDir).toSeq.sortBy(_._1).map { case (d, fs) =>
      spark.read.option("basePath", d).parquet(fs: _*).select(col("*"),
        col("_metadata.file_path").as("__f"), col("_metadata.row_index").as("__r"))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
      .join(bits, Seq("__f", "__r"), "left_semi").drop("__f", "__r"))
  }

  /** One commit's delta, as the per-commit fallback computed it. */
  private def commitChanges(t: String, k: Long, keys: Seq[String],
      withPreimage: Boolean): Option[DataFrame] = {
    val d = s"$t/data/c$k"
    val adds = if (Fs.isDirectory(d)) Some(spark.read.parquet(d)) else None
    val kills = killed(t, k)
    if (adds.isEmpty && kills.isEmpty) return None
    val fields = (adds.toSeq ++ kills.toSeq).flatMap(_.schema.fields)
      .foldLeft(Vector.empty[StructField]) { (acc, f) =>
        if (acc.exists(_.name == f.name)) acc else acc :+ f
      }
    def widen(side: Option[DataFrame]): DataFrame = {
      val df = side.getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[Row](), StructType(fields)))
      df.select(fields.map(f =>
        if (df.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
    }
    Some(ParquetIO.changeFeed(widen(kills), widen(adds), keys, withPreimage)
      .withColumn("commit", lit(k)))
  }

  /** The per-commit feed over [from, to], checkpoints skipped. Each
    * delta is collected and the union built locally, so a long log
    * plans no wide union. */
  private def reference(t: String, keys: Seq[String], from: Long, to: Long,
      withPreimage: Boolean): DataFrame = {
    val cps = TxTable.checkpointIds(t).toSet
    val deltas = TxTable.committedIds(t).filter(k => k >= from && k <= to && !cps(k))
      .flatMap(commitChanges(t, _, keys, withPreimage))
    if (deltas.isEmpty) {
      val base = TxTable.read(spark, t)
      val payload = base.columns.filterNot(keys.contains).toSeq
      return base.select(keys.map(col) ++ Seq(lit("").as("op")) ++
        payload.map(col) :+ lit(0L).as("commit"): _*).filter(lit(false))
    }
    val fields = deltas.flatMap(_.schema.fields)
      .foldLeft(Vector.empty[StructField]) { (acc, f) =>
        if (acc.exists(_.name == f.name)) acc else acc :+ f.copy(nullable = true)
      }
    val rows = deltas.flatMap(df => df.select(fields.map(f =>
      if (df.columns.contains(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)): _*)
      .collect())
    spark.createDataFrame(rows.asJava, StructType(fields))
  }

  private def assertParity(t: String, keys: Seq[String] = Seq("id"),
      from: Long = 0L, to: Long = Long.MaxValue): Unit =
    Seq(false, true).foreach { pre =>
      val got = TxTable.changeFeed(spark, t, keys, fromCommit = from,
        withPreimage = pre, toCommit = to)
      val want = reference(t, keys, from, to, pre)
      val what = s"[$from, $to] withPreimage=$pre"
      assert(got.columns.toSet === want.columns.toSet, s"$what: columns")
      val g = got.select(want.columns.map(col): _*)
      val n = want.count()
      assert(g.count() === n, s"$what: row count")
      assert(g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty, s"$what: rows differ")
      assert(n > 0 || got.schema === want.schema, s"$what: empty-range schema")
    }

  private def rows(ids: Seq[Long], v: Long) = {
    import spark.implicits._
    ids.map(i => (i, s"n$i", 100.0 + i + v)).toDF("id", "name", "price")
      .withColumn("version", lit(v))
  }

  test("nullability-only drift: upsert, delete, merge and maintain with a cursor") {
    val t = tmp()
    TxTable.create(spark, t, rows(0L until 300L, 0L))
    TxTable.registerCursor(t, "c", 0L)
    (1 to 2).foreach { c =>
      val v = c * 10L
      TxTable.upsert(spark, t, rows((0L until 300L by 7) :+ (1000L + c), v)
        .withColumn("op", when(col("id") % 5 === 0, "d").otherwise("u")),
        Seq("id"), "version", Some("op"))
      TxTable.deleteWhere(spark, t, col("id") % 11 === c)
      TxTable.mergeInto(spark, t, rows(Seq(1L, 2L, 2000L + c), v + 1), Seq("id"))
      TxTable.maintain(spark, t, maxTail = 3)
    }
    assert(TxTable.checkpointIds(t).nonEmpty)
    assertParity(t)
    assertParity(t, from = 2L)
  }

  test("an added column") {
    import spark.implicits._
    val t = tmp()
    TxTable.create(spark, t, rows(0L until 100L, 0L))
    TxTable.upsert(spark, t, rows(0L until 100L by 10, 1L).withColumn("tag", lit("hot")),
      Seq("id"), "version")
    TxTable.upsert(spark, t, rows(Seq(10L, 11L, 500L), 2L), Seq("id"), "version")
    TxTable.deleteWhere(spark, t, col("id") % 9 === 0)
    TxTable.upsert(spark, t, Seq((20L, "n", 1.0, 3L, "cold")).toDF("id", "name", "price",
      "version", "tag"), Seq("id"), "version")
    assertParity(t)
  }

  test("hive-partitioned commits beside flat ones") {
    import spark.implicits._
    val t = tmp()
    val parted = (0L until 200L).map(i => (i, s"cat${i % 4}", 100.0 + i, 0L))
      .toDF("id", "cat", "price", "version")
    TxTable.create(spark, t, parted, partitionCols = Seq("cat"))
    TxTable.upsert(spark, t, Seq((8L, "cat0", 8888.0, 1L), (401L, "cat1", 4.0, 1L))
      .toDF("id", "cat", "price", "version"), Seq("id"), "version", partitionCols = Seq("cat"))
    TxTable.upsert(spark, t, Seq((12L, "cat0", 0.0, 2L, "d"), (13L, "cat1", 13.0, 2L, "u"))
      .toDF("id", "cat", "price", "version", "op"), Seq("id"), "version", opCol = Some("op"))
    TxTable.deleteWhere(spark, t, col("id") % 17 === 0)
    assertParity(t)
    assertParity(t, from = 1L)
  }

  test("checkpoint commits are skipped, compactFiles moves are invisible") {
    val t = tmp()
    TxTable.create(spark, t, rows(0L until 200L, 0L).repartition(4))
    TxTable.upsert(spark, t, rows(Seq(2L, 3L), 1L), Seq("id"), "version")
    TxTable.checkpoint(spark, t)
    TxTable.upsert(spark, t, rows(0L until 60L, 2L).withColumn("op", lit("d")),
      Seq("id"), "version", opCol = Some("op"))
    assert(TxTable.compactFiles(spark, t, minDeadFraction = 0.2).nonEmpty)
    TxTable.upsert(spark, t, rows(Seq(100L, 900L), 3L), Seq("id"), "version")
    assertParity(t)
  }

  test("an empty commit, a window and an empty range") {
    val t = tmp()
    TxTable.create(spark, t, rows(0L until 100L, 0L))
    TxTable.upsert(spark, t, rows(0L until 100L by 10, 5L), Seq("id"), "version")
    // every winner loses to a newer live row: a marker-only commit
    val empty = TxTable.upsert(spark, t, rows(0L until 100L by 10, 1L), Seq("id"), "version")
    assert(!Fs.isDirectory(s"$t/data/c$empty"))
    TxTable.deleteWhere(spark, t, col("id") < 5)
    TxTable.upsert(spark, t, rows(Seq(3L, 7L), 6L), Seq("id"), "version")
    assertParity(t)
    assertParity(t, from = 1L, to = 3L)
    assertParity(t, from = empty, to = empty)
    assertParity(t, from = 99L)
  }

  /** A 40-commit log whose upserts add a `tag` or a `note` column now
    * and then, with a delete every eighth commit; built once, only read. */
  private lazy val driftedLog: String = {
    val t = tmp()
    TxTable.create(spark, t, rows(0L until 100L, 0L))
    (1 to 40).foreach { v =>
      val batch = rows(Seq((v * 7L) % 100, 100L + v), v.toLong)
      val drifted =
        if (v % 3 == 0) batch.withColumn("tag", lit(s"t$v"))
        else if (v % 5 == 0) batch.withColumn("note", lit(v))
        else batch
      if (v % 8 == 0) TxTable.deleteWhere(spark, t, col("id") % 13 === v % 13)
      else TxTable.upsert(spark, t, drifted, Seq("id"), "version")
    }
    t
  }

  test("a 40-commit drifted log") {
    val t = driftedLog
    assertParity(t)
    assertParity(t, from = 20L, to = 30L)
  }

  test("a 40-commit drifted log: read and changeFeed plan one scan per distinct footer schema") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val t = driftedLog
    /** The schema of a commit dir's first data file, as Spark reads it. */
    def footer(dir: String) = spark.read.parquet(Fs.listFiles(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      .map(_.toString).min).schema
    def distinctSchemas(dirs: Seq[String]) = dirs.map(footer).distinct.size
    def scans(df: DataFrame) =
      df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size
    val dataDirs = TxTable.committedIds(t).map(k => s"$t/data/c$k").filter(Fs.isDirectory(_))
    val dvDirs = TxTable.committedIds(t).map(k => s"$t/_txn/dv/$k").filter(Fs.isDirectory(_))
    val killDirs = spark.read.parquet(dvDirs: _*).select("file_path").distinct()
      .collect().map(r => commitDir(r.getString(0))).distinct.toSeq
    val readScans = distinctSchemas(dataDirs)
    assert(readScans > 1 && readScans < dataDirs.size, s"$readScans schemas over ${dataDirs.size} dirs")
    assert(scans(TxTable.read(spark, t)) === readScans)
    assert(scans(TxTable.changeFeed(spark, t, Seq("id"))) ===
      readScans + distinctSchemas(killDirs))
  }
}
