package graft

import graft.sources.{Fs, ParquetIO, TxTable}
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local store whose listings fail with a plain I/O error (an
  * unreachable store, a throttled request) — never "not found". */
class ListFailFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "listfail"
  override def getUri: java.net.URI = java.net.URI.create("listfail:///")
  override def listStatus(f: Path): Array[FileStatus] =
    throw new java.io.IOException(s"listfail: listing refused ($f)")
}

/** Round-13 port gate: the table-maintenance tier (partition TTL,
  * fragmented-partition compaction, TxTable markers/vacuum) runs
  * entirely through `org.apache.hadoop.fs.FileSystem`, so it works on any
  * Hadoop-supported scheme. These tests drive scheme-QUALIFIED `file:`
  * URIs through every entry point — a regression back to `java.io.File`
  * fails loudly here, because `new java.io.File("file:/x")` treats the
  * scheme as a literal path segment and lists nothing. */
class LifecycleFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def schemeDir(tag: String): String =
    "file:" + java.nio.file.Files.createTempDirectory(tag).toString

  test("dropPartitionsBelow runs against a scheme-qualified file: URI") {
    val dir = schemeDir("graft-fs-ttl") + "/t"
    val rows = Seq(("2024-01-30", 1L), ("2024-01-31", 2L), ("2024-02-01", 3L))
      .flatMap { case (dt, b) => (1L to 4L).map(i => (dt, b * 10 + i)) }
      .toDF("dt", "v")
    ParquetIO.writePartitioned(rows, dir, Seq("dt"))
    val dropped = ParquetIO.dropPartitionsBelow(dir, "dt", "2024-02-01")
    assert(dropped == Seq("2024-01-30", "2024-01-31"))
    val back = spark.read.parquet(dir)
    assert(back.select("dt").distinct().as[String].collect().toSeq == Seq("2024-02-01"))
    assert(back.count() == 4)
  }

  test("compactFragmentedPartitions runs against a scheme-qualified file: URI") {
    val dir = schemeDir("graft-fs-frag") + "/t"
    val base = (1L to 20L).map(i => (s"p${i % 2}", i)).toDF("pc", "v")
    ParquetIO.writePartitioned(base, dir, Seq("pc"))
    for (i <- 100L to 109L)
      Seq(("p0", i)).toDF("pc", "v").coalesce(1)
        .write.mode("append").partitionBy("pc").parquet(dir)
    val before = spark.read.parquet(dir).count()
    val compacted = ParquetIO.compactFragmentedPartitions(spark, dir, "pc", maxFiles = 8)
    assert(compacted == Seq("p0"))
    assert(Fs.listFiles(s"$dir/pc=p0").count(_.getPath.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(dir).count() == before)
  }

  test("countFilesDistributed (forced Spark path) agrees with the driver loop") {
    // the compaction spec exercises the small-table driver short-circuit;
    // this forces the DISTRIBUTED listing over the same scheme-qualified
    // dirs (driverLoopBelow = 0) and pins result equality — the 10⁵-
    // partition path must count exactly what the sequential loop counts
    val dir = schemeDir("graft-fs-cnt") + "/t"
    val base = (1L to 20L).map(i => (s"p${i % 4}", i)).toDF("pc", "v")
    ParquetIO.writePartitioned(base, dir, Seq("pc"))
    for (i <- 100L to 105L)
      Seq(("p0", i)).toDF("pc", "v").coalesce(1)
        .write.mode("append").partitionBy("pc").parquet(dir)
    val dirs = Fs.listDirs(dir).map(_.getPath.toString).filter(_.contains("pc="))
    assert(dirs.size == 4)
    // neither an empty .parquet file nor an `_`-prefixed one is data
    val p1 = new java.io.File(new java.net.URI(dirs.find(_.endsWith("pc=p1")).get))
    new java.io.File(p1, "empty.parquet").createNewFile()
    java.nio.file.Files.write(new java.io.File(p1, "_x.parquet").toPath, Array[Byte](1, 2, 3))
    val seqCounts = dirs.map(p => p -> Fs.listFiles(p)
      .count(st => st.getLen > 0 && !st.getPath.getName.startsWith("_") &&
        st.getPath.getName.endsWith(".parquet")).toLong).toMap
    val distCounts = Fs.countFilesDistributed(spark, dirs, ".parquet", driverLoopBelow = 0)
    assert(distCounts == seqCounts, s"distributed=$distCounts sequential=$seqCounts")
    assert(Fs.countFilesDistributed(spark, dirs, ".parquet") == seqCounts)
    assert(seqCounts(dirs.find(_.endsWith("pc=p1")).get) ==
      Fs.listFiles(p1.toString).count(_.getPath.getName.startsWith("part-")).toLong)
    // the 6 appended files all landed in pc=p0 and are visible to both paths
    assert(distCounts(dirs.find(_.endsWith("pc=p0")).get) >= 6L)
    // a missing dir counts 0 on the distributed path, not an exception
    val withMissing = Fs.countFilesDistributed(
      spark, dirs :+ s"$dir/pc=absent", ".parquet", driverLoopBelow = 0)
    assert(withMissing(s"$dir/pc=absent") == 0L)
  }

  test("compaction schema probe merges schemas across fragmented partitions") {
    // round-12 advice: appends with an EVOLVED schema (extra column) into
    // a second fragmented partition must survive compaction — probing
    // only the first dir's schema would silently drop the new column
    val dir = schemeDir("graft-fs-evo") + "/t"
    val base = (1L to 10L).map(i => (s"a", i)).toDF("pc", "v")
    ParquetIO.writePartitioned(base, dir, Seq("pc"))
    for (i <- 100L to 109L)  // fragment pc=a with the original schema
      Seq(("a", i)).toDF("pc", "v").coalesce(1)
        .write.mode("append").partitionBy("pc").parquet(dir)
    for (i <- 200L to 209L)  // fragment pc=b with an EVOLVED schema
      Seq(("b", i, s"tag$i")).toDF("pc", "v", "extra").coalesce(1)
        .write.mode("append").partitionBy("pc").parquet(dir)
    val compacted = ParquetIO.compactFragmentedPartitions(spark, dir, "pc", maxFiles = 8)
    assert(compacted == Seq("a", "b"))
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.columns.toSet == Set("pc", "v", "extra"))
    // the evolved column survived the rewrite with its values intact
    assert(back.filter(col("extra").isNotNull).count() == 10)
    assert(back.filter(col("pc") === "b" && col("extra") === "tag205").count() == 1)
  }

  test("TxTable lifecycle (commit markers, time travel, crash, vacuum) on a file: URI") {
    val t = schemeDir("graft-fs-tx") + "/t"
    TxTable.create(spark, t, (1L to 3L).map(i => (i, "c0")).toDF("id", "tag"))
    TxTable.append(spark, t, (4L to 6L).map(i => (i, "c1")).toDF("id", "tag"))
    assert(TxTable.committedIds(t) == Seq(0L, 1L))
    assert(TxTable.readAt(spark, t, 0L).count() == 3)
    // a crash between the data write and the commit marker: the written
    // commit stays invisible and the snapshot stays the old one
    val k = TxTable.append(spark, t, (7L to 9L).map(i => (i, "c2")).toDF("id", "tag"))
    assert(Fs.deleteIfExists(s"$t/_txn/commits/c$k"))
    assert(TxTable.read(spark, t).count() == 6)
    // a later commit supersedes the crashed id; the sweep removes its
    // data dir and its claim, and the id is never reused
    val k2 = TxTable.append(spark, t, Seq((10L, "c3")).toDF("id", "tag"))
    val swept = TxTable.vacuum(spark, t, graceMs = 0L)
    assert(swept.exists(_.endsWith(s"/data/c$k")))
    assert(!Fs.isDirectory(s"$t/data/c$k") && !Fs.exists(s"$t/_txn/claims/c$k"))
    assert(TxTable.committedIds(t) == Seq(0L, 1L, k2))
    assert(TxTable.read(spark, t).count() == 7)
    assert(TxTable.vacuum(spark, t, graceMs = 0L).isEmpty)
  }

  test("txtable sink crash-window replay is a snapshot no-op across path spellings") {
    // a restart that spells the SAME table with a scheme ('file:/t' vs
    // '/t') must resolve the same commits, so the replayed batch MERGEs
    // against the snapshot it already changed and is absorbed.
    // Scenario: run with the unqualified spelling, crash inside the
    // commit window, restart with the file:-qualified spelling.
    val base = java.nio.file.Files.createTempDirectory("graft-fs-replay").toString
    (1L to 40L).map(k => (k, "a", 1L)).toDF("k", "payload", "v")
      .coalesce(1).write.parquet(s"$base/in/f0")
    (21L to 60L).map(k => (k, "b", 2L)).toDF("k", "payload", "v")
      .coalesce(1).write.parquet(s"$base/in/f1")
    val schema = spark.read.parquet(s"$base/in/f0").schema
    def start(table: String, ckpt: String) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in/*")
        .writeStream.format("txtable").option("keys", "k")
        .option("versionCol", "v").option("checkpointLocation", ckpt)
        .start(table)
    val q = start(s"$base/table", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    def snapshot() = TxTable.read(spark, s"$base/table")
      .select("k", "payload", "v").as[(Long, String, Long)].collect().sorted.toSeq
    val before = snapshot()
    // crash window: the table commit landed, the checkpoint commit did
    // not — the checkpoint is copied minus its last commit file (a real
    // crash restarts in a fresh JVM; Spark's same-JVM guard forbids two
    // queries on one checkpoint)
    val src = java.nio.file.Paths.get(s"$base/ckpt")
    val dst = java.nio.file.Paths.get(s"$base/ckpt2")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.toSeq.sortBy(_.toString)
      .foreach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    val commits = new java.io.File(s"$base/ckpt2/commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toInt)
    assert(last.delete())
    // the Hadoop local FS shadows every file with a .name.crc checksum —
    // leave one behind and the replayed commit's rename fails on it
    new java.io.File(last.getParentFile, s".${last.getName}.crc").delete()
    // restart with the SCHEME-QUALIFIED table spelling: the replayed
    // batch must leave the snapshot as it was
    val q2 = start(s"file:$base/table", s"$base/ckpt2")
    try q2.processAllAvailable() finally q2.stop()
    val out = snapshot()
    assert(out == before, "replayed batch must not change the table")
    assert(out.length == 60 && out.count(_._2 == "b") == 40)
  }

  test("Fs.createMarker is create-once and idempotent; readUtf8 round-trips") {
    val dir = schemeDir("graft-fs-mark")
    val p = s"$dir/_commits/gen7"
    assert(Fs.readUtf8(p).isEmpty)
    assert(Fs.createMarker(p, "alpha"), "first create must win")
    assert(Fs.readUtf8(p).contains("alpha"))
    // a second create (replay race) is a no-op — the commit bit and its
    // content are immutable once set
    assert(!Fs.createMarker(p, "beta"))
    assert(Fs.readUtf8(p).contains("alpha"))
    // no stray temp file left behind
    assert(Fs.listFiles(s"$dir/_commits").map(_.getPath.getName).toSet == Set("gen7"))
    assert(Fs.deleteIfExists(p))
    assert(Fs.readUtf8(p).isEmpty)
    assert(Fs.deleteIfExists(p), "deleting an absent file reports gone")
  }

  test("Fs.listOrEmpty: missing and empty dirs list empty, files list") {
    val dir = schemeDir("graft-fs-list")
    assert(Fs.listOrEmpty(s"$dir/absent").isEmpty)
    Fs.writeUtf8(s"$dir/full/a", "1")
    Fs.writeUtf8(s"$dir/full/b", "2")
    new java.io.File(new java.net.URI(s"$dir/empty")).mkdirs()
    assert(Fs.listOrEmpty(s"$dir/empty").isEmpty)
    assert(Fs.listOrEmpty(s"$dir/full").map(_.getPath.getName)
      .filterNot(_.endsWith(".crc")).sorted == Seq("a", "b"))
  }

  test("Fs.listOrEmpty propagates a listing failure that is not 'not found'") {
    // read as "empty", a failed listing of _txn/commits would silently
    // hide every commit
    val c = new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration)
    c.set("fs.listfail.impl", classOf[ListFailFileSystem].getName)
    c.setBoolean("fs.listfail.impl.disable.cache", true)
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-listfail").toString
    val e = intercept[java.io.IOException](Fs.listOrEmpty(s"listfail:$dir", c))
    assert(e.getMessage.contains("listing refused"))
    assert(!e.isInstanceOf[java.io.FileNotFoundException])
  }
}
