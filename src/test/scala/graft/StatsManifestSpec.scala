package graft

import graft.sources.{ParquetIO, StatsManifest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * File-level stats manifest + skipping (round 16): footer-only build,
 * typed min/max legs, conservative keeps, and actual pruning on a
 * sort-compacted layout.
 */
class StatsManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-sm").toString

  /** A sorted multi-file table: ids 0..n clustered so per-file ranges
    * are disjoint — the layout skipping exists for. */
  private def sortedTable(dir: String, n: Int = 10000): Unit = {
    import spark.implicits._
    val df = (0 until n).map(i =>
      (i.toLong, i.toDouble / 7.0, f"k$i%05d", i % 100)).toDF("id", "x", "k", "m")
    ParquetIO.write(df.repartitionByRange(8, col("id"))
      .sortWithinPartitions("id"), dir)
  }

  test("build is footer-only and covers requested columns") {
    val t = tmp() + "/t"
    sortedTable(t)
    val m = StatsManifest.build(spark, t, Seq("id", "x", "k"))
    val files = m.select("file").distinct().count()
    assert(files === 8L)
    assert(m.filter(col("column") === "id")
      .filter(col("minLong").isNull).count() === 0L)
    assert(m.filter(col("column") === "x")
      .filter(col("minDouble").isNull).count() === 0L)
    assert(m.filter(col("column") === "k")
      .filter(col("minStr").isNull).count() === 0L)
    // global bounds reassemble from per-file rows
    val bounds = m.filter(col("column") === "id")
      .agg(min("minLong"), max("maxLong")).head
    assert(bounds.getLong(0) === 0L && bounds.getLong(1) === 9999L)
  }

  test("prune keeps only overlapping files; skipping result is exact") {
    val t = tmp() + "/t"
    sortedTable(t)
    StatsManifest.build(spark, t, Seq("id", "x", "k"))
    val all = StatsManifest.manifest(spark, t).select("file").distinct().count()
    val surviving = StatsManifest.prune(spark, t, "id", 2000L, 2999L)
    assert(surviving.nonEmpty && surviving.size < all,
      s"a 10% range over a sorted 8-file layout must skip files " +
        s"(kept ${surviving.size} of $all)")
    val got = StatsManifest.readSkipping(spark, t, "id", 2000L, 2999L)
    assert(got.count() === 1000L)
    val want = spark.read.parquet(t)
      .filter(col("id") >= 2000L && col("id") <= 2999L)
    assert(got.orderBy("id").collect().toSeq ===
      want.orderBy("id").collect().toSeq)
  }

  test("string and double legs prune too") {
    val t = tmp() + "/t"
    sortedTable(t)
    StatsManifest.build(spark, t, Seq("id", "x", "k"))
    val all = 8
    // k is zero-padded so string order == numeric order == layout order
    val sk = StatsManifest.prune(spark, t, "k", "k01000", "k01999")
    assert(sk.nonEmpty && sk.size < all)
    assert(StatsManifest.readSkipping(spark, t, "k", "k01000", "k01999")
      .count() === 1000L)
    val sx = StatsManifest.prune(spark, t, "x", 100.0, 200.0)
    assert(sx.nonEmpty && sx.size < all)
    assert(StatsManifest.readSkipping(spark, t, "x", 100.0, 200.0).count() ===
      spark.read.parquet(t).filter(col("x") >= 100.0 && col("x") <= 200.0).count())
  }

  test("a column with no stats rows is conservatively kept") {
    val t = tmp() + "/t"
    sortedTable(t)
    StatsManifest.build(spark, t, Seq("id")) // manifest knows nothing of m
    val s = StatsManifest.prune(spark, t, "m", 5L, 5L)
    assert(s.size === 8, "no stats ⇒ every file kept")
    assert(StatsManifest.readSkipping(spark, t, "m", 5L, 5L).count() ===
      spark.read.parquet(t).filter(col("m") === 5).count())
  }

  test("empty survivor set still returns a schema-correct empty frame") {
    val t = tmp() + "/t"
    sortedTable(t)
    StatsManifest.build(spark, t, Seq("id"))
    val out = StatsManifest.readSkipping(spark, t, "id", 100000L, 200000L)
    assert(out.count() === 0L)
    assert(out.columns.toSeq.sorted === Seq("id", "k", "m", "x"))
  }

  test("skipping composes with an UNSORTED layout as a no-op, not a wrong answer") {
    val t = tmp() + "/t"
    import spark.implicits._
    // every file covers the full id range — nothing is skippable
    (0 until 4000).map(i => (i.toLong, i % 13)).toDF("id", "m")
      .repartition(6).write.parquet(t)
    StatsManifest.build(spark, t, Seq("id"))
    val got = StatsManifest.readSkipping(spark, t, "id", 500L, 1500L).count()
    assert(got === 1001L)
  }

  test("refresh restats only added files and drops rows for removed ones") {
    val t = tmp() + "/t"
    import spark.implicits._
    sortedTable(t)
    StatsManifest.build(spark, t, Seq("id"))
    // an ingest appends two files beyond the existing id domain
    (10000 until 12000).map(i => (i.toLong, i.toDouble / 7.0, f"k$i%05d", i % 100))
      .toDF("id", "x", "k", "m")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.mode("append").parquet(t)
    val m = StatsManifest.refresh(spark, t, Seq("id"))
    assert(m.select("file").distinct().count() === 10L)
    // pruning into the appended range lands only on appended files
    val s = StatsManifest.prune(spark, t, "id", 10000L, 10999L)
    assert(s.nonEmpty && s.size <= 2,
      s"appended-range prune must stay within the 2 new files (kept ${s.size})")
    assert(StatsManifest.readSkipping(spark, t, "id", 10000L, 10999L)
      .count() === 1000L)
    // a compaction-style removal: drop one ORIGINAL file, refresh forgets it
    val victim = StatsManifest.prune(spark, t, "id", 0L, 10L).head
    graft.sources.Fs.deleteIfExists(victim)
    val m2 = StatsManifest.refresh(spark, t, Seq("id"))
    assert(m2.select("file").distinct().count() === 9L)
    assert(!m2.select("file").distinct()
      .as[String].collect().contains(victim))
    // unchanged table: refresh is a read, manifest identical
    assert(StatsManifest.refresh(spark, t, Seq("id"))
      .select("file").distinct().count() === 9L)
  }

  test("a STALE manifest keeps files appended after the build — rows, not just speed") {
    import spark.implicits._
    val t = tmp() + "/t"
    sortedTable(t)
    StatsManifest.build(spark, t, Seq("id"))
    // appended AFTER the build: the manifest has no rows for these files,
    // so the universe must come from the listing, never the manifest
    (20000 until 21000).map(i => (i.toLong, i.toDouble / 7.0, f"k$i%05d", i % 100))
      .toDF("id", "x", "k", "m")
      .coalesce(1).write.mode("append").parquet(t)
    val s = StatsManifest.prune(spark, t, "id", 20000L, 20999L)
    assert(s.nonEmpty, "unknown files must survive the prune")
    assert(StatsManifest.readSkipping(spark, t, "id", 20000L, 20999L)
      .count() === 1000L,
      "a stale manifest must cost performance, never result rows")
    // and equality lookups keep the unknown file too
    assert(StatsManifest.readSkippingEquality(spark, t, "id", 20500L)
      .count() === 1L)
  }

  test("equality prune uses blooms where ranges are useless; parity exact") {
    val t = tmp() + "/t"
    import spark.implicits._
    // EVEN ids only, hash-scattered: every file spans ~the full domain,
    // so min/max can never cut an equality probe — only blooms can
    val df = (0 until 8000).map(i => (i.toLong * 2, s"v$i")).toDF("id", "v")
      .repartition(8)
    ParquetIO.writeWithBloomFilters(df, t, Seq("id"), expectedNdv = 2000L)
    StatsManifest.build(spark, t, Seq("id"))
    val all = StatsManifest.manifest(spark, t)
      .select("file").distinct().count()
    assert(all === 8L)
    // range stage alone keeps everything (the useless-min/max premise)
    assert(StatsManifest.prune(spark, t, "id", 37L * 2, 37L * 2).size === 8)
    // present value: blooms keep its file(s), result matches a plain filter
    val present = StatsManifest.pruneEquality(spark, t, "id", 74L)
    assert(present.nonEmpty && present.size < 8,
      s"bloom must cut non-member files (kept ${present.size} of 8)")
    val got = StatsManifest.readSkippingEquality(spark, t, "id", 74L)
      .orderBy("id").collect().toSeq
    val want = spark.read.parquet(t).filter(col("id") === 74L)
      .orderBy("id").collect().toSeq
    assert(got === want && got.size === 1)
    // absent IN-RANGE value (odd id): every bloom rejects — zero files,
    // zero rows, and the empty frame keeps the schema
    val absent = StatsManifest.pruneEquality(spark, t, "id", 75L)
    assert(absent.isEmpty, s"all-bloom rejection must prune everything (kept $absent)")
    val none = StatsManifest.readSkippingEquality(spark, t, "id", 75L)
    assert(none.count() === 0L && none.columns.toSeq.sorted === Seq("id", "v"))
  }

  test("equality prune without blooms keeps every candidate file") {
    val t = tmp() + "/t"
    import spark.implicits._
    (0 until 4000).map(i => (i.toLong, i % 13)).toDF("id", "m")
      .repartition(5).write.parquet(t) // plain write: no bloom bitsets
    StatsManifest.build(spark, t, Seq("id"))
    val s = StatsManifest.pruneEquality(spark, t, "id", 1234L)
    assert(s.size === 5, "no bloom ⇒ conservative keep, never a wrong skip")
    assert(StatsManifest.readSkippingEquality(spark, t, "id", 1234L)
      .count() === 1L)
  }
  test("a hive-partitioned table skips with its partition column kept") {
    val t = tmp() + "/t"
    import spark.implicits._
    // every range-clustered task writes into both partition dirs: 8 leaf
    // files, each leaf's id range disjoint from its dir-mates'
    (0 until 4000).map(i => (i.toLong * 2, i % 2)).toDF("id", "p")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.option("parquet.bloom.filter.enabled#id", "true")
      .option("parquet.bloom.filter.expected.ndv#id", "1000")
      .partitionBy("p").parquet(t)
    StatsManifest.build(spark, t, Seq("id"))
    assert(StatsManifest.manifest(spark, t).select("file").distinct().count() === 8L)
    val full = spark.read.parquet(t)
    def same(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.schema === want.schema)
      assert(got.orderBy("id").collect().toSeq === want.orderBy("id").collect().toSeq)
    }
    assert(StatsManifest.prune(spark, t, "id", 2000L, 2999L).size < 8)
    same(StatsManifest.readSkipping(spark, t, "id", 2000L, 2999L),
      full.filter(col("id") >= 2000L && col("id") <= 2999L))
    // a predicate on the partition column itself: no stats rows, all kept
    same(StatsManifest.readSkipping(spark, t, "p", 1, 1), full.filter(col("p") === 1))
    assert(StatsManifest.pruneEquality(spark, t, "id", 74L).size < 8)
    same(StatsManifest.readSkippingEquality(spark, t, "id", 74L), full.filter(col("id") === 74L))
    // an absent value: blooms usually prune every file, and the empty
    // frame keeps the schema too
    same(StatsManifest.readSkippingEquality(spark, t, "id", 75L), full.filter(col("id") === 75L))
  }
}
