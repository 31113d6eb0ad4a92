package graft

import graft.sources.TxTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Round-22 optimization guards:
 *  - the broadcast-gate stats shortcut must NOT trust a selectivity
 *    guess: a big source behind a selective filter falls back to the
 *    exact count() gate (r21 verdict #4);
 *  - the engine session defaults are a shared helper the harnesses and
 *    any embedding application build from (r21 verdict #5);
 *  - the one-pass multi-commit change feed emits exactly the per-commit
 *    union's rows (r21 verdict #6) — pinned against a mixed i/u/d log
 *    INCLUDING a schema-evolved table, which must route to the
 *    per-commit fallback and still agree.
 */
class Round22Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-r22").toString

  test("smallByStats trusts leaf-derived estimates, not selectivity guesses") {
    import spark.implicits._
    val dir = tmp()
    // a >8 MB parquet leaf: 300k rows of high-entropy strings (md5
    // defeats compression, so the on-disk leaf estimate stays big)
    (0L until 300000L).toDF("id")
      .select(col("id"), md5(col("id").cast("string")).as("h1"),
        sha2(col("id").cast("string"), 256).as("h2"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$dir/big")
    val big = spark.read.parquet(s"$dir/big")
    val leaf = big.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(leaf > BigInt(8L * 1024 * 1024),
      s"fixture too small for the guard test: leaf estimate $leaf")
    // unfiltered big source: over the bar either way
    assert(!TxTable.smallByStats(big))
    // selective filter on the big source: whatever the estimate says,
    // the plan carries a Filter above an over-bar leaf — never trusted
    assert(!TxTable.smallByStats(big.filter(col("id") % 100000L === 0L)))
    // small leaf stays trusted, filter or not (at most 8 MB of source
    // rows can feed the batch)
    val small = (0L until 100L).toDF("id")
    small.write.mode("overwrite").parquet(s"$dir/small")
    val rd = spark.read.parquet(s"$dir/small")
    assert(TxTable.smallByStats(rd))
    assert(TxTable.smallByStats(rd.filter(col("id") % 2 === 0L)))
  }

  test("smallByStats under CBO does not trust a join's estimate") {
    // two 16 MB leaves whose key ranges do not overlap: CBO's join
    // estimate from the range column stats is near zero rows, with no
    // Filter anywhere in the plan
    val a = spark.range(0L, 2000000L)
    val b = spark.range(5000000L, 7000000L)
    val joined = a.join(b, "id")
    val key = "spark.sql.cbo.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes <=
        BigInt(8L * 1024 * 1024), "fixture: CBO must estimate the join small")
      assert(!TxTable.smallByStats(joined))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("SessionDefaults carries the engine confs and applies to a builder") {
    assert(SessionDefaults.confs("spark.sql.codegen.cache.maxEntries") === "10000")
    assert(SessionDefaults.confs("spark.sql.maxPlanStringLength") === "1048576")
    assert(SessionDefaults.confs("spark.sql.legacy.parquet.nanosAsLong") === "true")
    // applying to a builder is total (no key rejected)
    SessionDefaults(org.apache.spark.sql.SparkSession.builder())
  }

  private def mixedLog(t: String): Unit = {
    import spark.implicits._
    val base = (0L until 500L).map(i => (i, s"n$i", 100.0 + i, 0L))
      .toDF("id", "name", "price", "version")
    TxTable.create(spark, t, base)
    // commit 1: reprice %10==0 (u), insert negated keys (i)
    TxTable.upsert(spark, t,
      base.filter(col("id") % 10 === 0)
        .withColumn("price", col("price") + 1000.0)
        .unionByName(base.filter(col("id") % 10 === 1)
          .withColumn("id", -col("id") - 1L))
        .withColumn("version", lit(1L)),
      Seq("id"), "version")
    // commit 2: tombstones %7==0, plus a same-payload no-op rewrite of
    // id 3 (must stay feed-invisible) via an upsert that loses nothing
    TxTable.upsert(spark, t,
      base.filter(col("id") % 7 === 0).withColumn("op", lit("d"))
        .withColumn("version", lit(2L)),
      Seq("id"), "version", opCol = Some("op"))
    // commit 3: empty commit — every winner targets a key LIVE at a
    // strictly newer version (the %10==0 repricings at v1), so all lose
    // (keys also %7==0 are excluded: tombstoned keys have no live row to
    // lose to and would re-insert)
    TxTable.upsert(spark, t,
      base.filter(col("id") % 10 === 0 && col("id") % 7 =!= 0)
        .withColumn("version", lit(0L)),
      Seq("id"), "version")
  }

  test("one-pass change feed == per-commit semantics on a mixed i/u/d log") {
    val t = tmp() + "/t"
    mixedLog(t)
    val feed = TxTable.changeFeed(spark, t, Seq("id"), withPreimage = true)
    assert(feed.columns.toSeq ===
      Seq("id", "op", "name", "price", "version", "commit"))
    val rows = feed.collect()
    // ops confined to the contract, commits to the log
    assert(rows.map(_.getAs[String]("op")).toSet.subsetOf(Set("i", "u", "up", "d")))
    assert(rows.map(_.getAs[Long]("commit")).toSet === Set(0L, 1L, 2L))
    // replaying the feed (latest op per key, d drops) == the live read
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("id").orderBy(col("commit").desc,
      // within a commit a u outranks its up preimage
      when(col("op") === "up", 0).otherwise(1).desc)
    val replayed = feed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select("id", "name", "price", "version")
    val live = TxTable.read(spark, t).select("id", "name", "price", "version")
    assert(replayed.exceptAll(live).isEmpty && live.exceptAll(replayed).isEmpty)
    // per-commit op counts pin the one-pass fold exactly: commit 1 has
    // 50 u (+50 up) + 50 i; commit 2 has ceil(500/7)=72 d; commit 3 none
    val byCommit = rows.groupBy(r => (r.getAs[Long]("commit"), r.getAs[String]("op")))
      .view.mapValues(_.length).toMap
    assert(byCommit((0L, "i")) === 500)
    assert(byCommit((1L, "u")) === 50)
    assert(byCommit((1L, "up")) === 50)
    assert(byCommit((1L, "i")) === 50)
    assert(byCommit((2L, "d")) === 72)
  }

  test("schema-evolved logs route to the per-commit fallback and stay exact") {
    import spark.implicits._
    val t = tmp() + "/t"
    val base = (0L until 100L).map(i => (i, 100.0 + i, 0L))
      .toDF("id", "price", "version")
    TxTable.create(spark, t, base)
    // evolved commit: adds a column the create never had
    TxTable.upsert(spark, t,
      base.filter(col("id") % 10 === 0)
        .withColumn("price", col("price") + 1000.0)
        .withColumn("tag", lit("hot"))
        .withColumn("version", lit(1L)),
      Seq("id"), "version")
    val feed = TxTable.changeFeed(spark, t, Seq("id"))
    val rows = feed.collect()
    assert(rows.count(_.getAs[String]("op") == "i") === 100)
    assert(rows.count(_.getAs[String]("op") == "u") === 10)
    // pre-evolution inserts surface NULL for the added column
    assert(rows.filter(r => r.getAs[Long]("commit") == 0L)
      .forall(_.getAs[String]("tag") == null))
    assert(rows.filter(r => r.getAs[String]("op") == "u")
      .forall(_.getAs[String]("tag") == "hot"))
  }

  test("one-pass feed honors fromCommit/toCommit windows") {
    val t = tmp() + "/t"
    mixedLog(t)
    val mid = TxTable.changeFeed(spark, t, Seq("id"),
      fromCommit = 1L, toCommit = 1L).collect()
    assert(mid.map(_.getAs[Long]("commit")).toSet === Set(1L))
    assert(mid.count(_.getAs[String]("op") == "u") === 50)
    assert(mid.count(_.getAs[String]("op") == "i") === 50)
  }
}
