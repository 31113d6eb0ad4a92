package graftbench

import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/**
 * `tx_cdc`: a transactional merge-on-read table under a seeded stream of
 * commits. [[TxTable.create]] loads the sf0.1 `orders` fixture (plus a version
 * column `v`); then each cycle makes three commits in a seeded order, each
 * followed by a snapshot [[TxTable.read]] and an aggregate:
 *
 *  - upsert: [[UpsertRows]] rows whose keys are Zipf-skewed over the live
 *    keys (10% fresh keys), 10% of them tombstones through `opCol`;
 *  - deleteWhere: the rows whose key falls in one seeded residue class;
 *  - mergeInto: [[MergeRows]] distinct Zipf-skewed keys, update matched and
 *    insert the rest.
 *
 * The cycle ends with [[TxTable.maintain]], then a
 * [[TxTable.changeFeed]] from the last consumed commit (the consumer's
 * cursor is registered so maintenance keeps its commits) and
 * [[TxTable.history]].
 *
 * The expected table is kept as an in-memory model of the same op log
 * (latest version wins per key, minus tombstones and predicate deletes);
 * after the window the final snapshot must equal it row for row.
 */
final class TxCdcWorkload extends Workload {
  val name = "tx_cdc"
  private val UpsertRows = 2000
  private val MergeRows = 1500
  // maintain's default tail (32 commits) is never reached inside one run;
  // a tail of 3 makes every maintenance call checkpoint and expire
  private val MaxTail = 3
  private val DeleteModulus = 193
  private val ZipfExponent = 1.1
  private val Key = "o_orderkey"
  private val Cursor = "perfbench"

  private var initial: Array[Row] = _
  private var schema: StructType = _
  private var zipfCdf: Array[Double] = _
  private var hotKeys: Array[Long] = _

  private var root: String = _
  private var model: mutable.HashMap[Long, Row] = _
  private var rng: scala.util.Random = _
  private var version = 0L
  private var nextKey = 0L
  private var feedCursor = 0L
  private var rep = 0

  def inputs: String =
    s"orders (${if (initial == null) 0 else initial.length} rows) as commit 0; upserts of " +
      s"$UpsertRows rows, merges of $MergeRows keys, Zipf s=$ZipfExponent key skew; " +
      s"maintain every 3 commits with maxTail $MaxTail"

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    if (initial == null) {
      val orders = spark.read.parquet(s"${ctx.fixtures}/sf0.1/orders.parquet")
        .withColumn("v", lit(0L))
      schema = orders.schema
      initial = orders.collect()
      val seeded = new scala.util.Random(ctx.seed)
      hotKeys = seeded.shuffle(initial.map(_.getAs[Long](Key)).toVector).toArray
      val w = Array.tabulate(hotKeys.length)(r => 1.0 / math.pow(r + 1, ZipfExponent))
      val total = w.sum
      var acc = 0.0
      zipfCdf = w.map { x => acc += x / total; acc }
    }
    if (root != null) Disk.rm(root)
    rep += 1
    root = s"${ctx.work}/tx/t$rep"
    TxTable.create(spark, root,
      spark.read.parquet(s"${ctx.fixtures}/sf0.1/orders.parquet").withColumn("v", lit(0L)))
    model = mutable.HashMap.empty[Long, Row]
    initial.foreach(r => model(r.getAs[Long](Key)) = r)
    rng = new scala.util.Random(ctx.seed)
    version = 0L
    nextKey = initial.map(_.getAs[Long](Key)).max + 1
    feedCursor = TxTable.committedIds(root).max
    TxTable.registerCursor(root, Cursor, feedCursor)
  }

  def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val w = s"${ctx.work}/tx/warmup"
    val df = spark.createDataFrame(initial.take(2000).toSeq.asJava, schema)
    TxTable.create(spark, w, df)
    TxTable.upsert(spark, w, df.limit(100).withColumn("v", lit(1L)).withColumn("op", lit("u")),
      Seq(Key), "v", Some("op"))
    TxTable.read(spark, w).agg(count(lit(1))).collect()
    Disk.rm(w)
  }

  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    hotKeys(math.min(hotKeys.length - 1, if (i >= 0) i else -i - 1))
  }

  private val statuses = Array("F", "O", "P")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** A fresh row for `key` at the next version. */
  private def row(key: Long): Row = {
    version += 1
    val template = initial(rng.nextInt(initial.length))
    Row(key, 1L + rng.nextInt(15000), statuses(rng.nextInt(3)),
      math.round(rng.nextDouble() * 50000000.0) / 100.0,
      template.get(schema.fieldIndex("o_orderdate")),
      priorities(rng.nextInt(priorities.length)), version)
  }

  private def key(): Long = if (rng.nextDouble() < 0.1) { nextKey += 1; nextKey } else zipfKey()

  /** One commit of the given kind, applied to the model too. */
  private def commit(ctx: Ctx, kind: String): Unit = {
    val spark = ctx.spark
    if (kind == "upsert") {
      val rows = Vector.fill(UpsertRows) {
        val r = row(key())
        Row.fromSeq(r.toSeq :+ (if (rng.nextDouble() < 0.1) "d" else "u"))
      }
      val batch = spark.createDataFrame(rows.asJava, schema.add("op", StringType))
      ctx.call("txtable", "upsert", rows.size) {
        TxTable.upsert(spark, root, batch, Seq(Key), "v", Some("op"))
      }
      rows.groupBy(_.getLong(0)).foreach { case (k, rs) =>
        val w = rs.maxBy(_.getLong(6))
        if (w.getString(w.length - 1) == "d") model.remove(k)
        else model(k) = Row.fromSeq(w.toSeq.dropRight(1))
      }
    } else if (kind == "delete") {
      val residue = rng.nextInt(DeleteModulus)
      ctx.call("txtable", "delete") {
        TxTable.deleteWhere(spark, root, pmod(col(Key), lit(DeleteModulus.toLong)) === residue)
      }
      model.keys.filter(k => Math.floorMod(k, DeleteModulus.toLong) == residue).toVector
        .foreach(model.remove)
    } else {
      val keys = mutable.LinkedHashSet.empty[Long]
      while (keys.size < MergeRows) keys += key()
      val rows = keys.toVector.map(row)
      val source = spark.createDataFrame(rows.asJava, schema)
      ctx.call("txtable", "merge", rows.size)(TxTable.mergeInto(spark, root, source, Seq(Key)))
      rows.foreach(r => model(r.getLong(0)) = r)
    }
  }

  /** A cycle: one commit of each kind in a seeded order, each followed by
    * a snapshot read and an aggregate, then maintenance, the change feed
    * and the history. */
  def cycle(ctx: Ctx, c: Int): Unit = {
    val spark = ctx.spark
    rng.shuffle(Seq("upsert", "delete", "merge")).zipWithIndex.foreach { case (kind, j) =>
      commit(ctx, kind)
      val snap = ctx.call("txtable", "read_resolve")(TxTable.read(spark, root))
      val agg = ctx.call("txtable", "read_exec") {
        snap.groupBy("o_orderstatus").agg(count(lit(1)), sum("o_totalprice")).collect()
      }
      ctx.check(s"cycle $c commit $j: snapshot row count equals the model's") {
        agg.map(_.getLong(1)).sum == model.size
      }
      if (c == 0) {
        ctx.layer("txtable.commits", Disk.children(s"$root/_txn/commits", "c\\d+"))
        ctx.layer("txtable.data_dirs", Disk.children(s"$root/data", "c\\d+"))
        ctx.layer("txtable.dv_dirs", Disk.children(s"$root/_txn/dv", "\\d+"))
      }
    }
    ctx.call("txtable", "maintain")(TxTable.maintain(spark, root, maxTail = MaxTail))
    ctx.call("txtable", "feed") {
      TxTable.changeFeed(spark, root, Seq(Key), fromCommit = feedCursor + 1)
        .write.format("noop").mode("overwrite").save()
    }
    feedCursor = TxTable.committedIds(root).max
    TxTable.registerCursor(root, Cursor, feedCursor)
    val hist = ctx.call("txtable", "history")(TxTable.history(spark, root).collect())
    ctx.check(s"cycle $c: history lists the newest commit") {
      hist.map(_.getAs[Long]("commit")).max == feedCursor
    }
  }

  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = schema.fieldNames.toSeq.map(col)
    val r = df.select(cols: _*)
      .agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)))
  }

  private var bytesRatio = Double.NaN

  def verify(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val snap = TxTable.read(spark, root)
    val want = digest(spark.createDataFrame(model.values.toSeq.asJava, schema))
    val got = digest(snap)
    ctx.check("final snapshot row count equals the op-log reconstruction")(got._1 == want._1)
    ctx.check("final snapshot digest equals the op-log reconstruction")(got._2 == want._2)
    val live = s"${ctx.work}/tx/live"
    snap.write.mode("overwrite").parquet(live)
    bytesRatio = Disk.bytesUnder(root).toDouble / Disk.bytesUnder(live)
  }

  def named(ctx: Ctx): Seq[Named] = {
    val commits = Seq("upsert", "delete", "merge").flatMap(ctx.ok).map(_.seconds)
    // a read is the resolve call and the aggregate that follows it
    val reads = ctx.calls.toSeq.zip(ctx.calls.toSeq.drop(1)).collect {
      case (a, b) if a.ok && b.ok && a.op == "read_resolve" && b.op == "read_exec" =>
        a.seconds + b.seconds
    }
    Seq(Named.latency("commit_s", commits),
      Named.latency("read_s", reads),
      Named.latency("feed_s", ctx.ok("feed").map(_.seconds)),
      Named.latency("maintain_s", ctx.ok("maintain").map(_.seconds)),
      Named.latency("history_s", ctx.ok("history").map(_.seconds)),
      if (bytesRatio.isNaN) None
      else Some(Named("tx_bytes_per_live_byte", "B/B", bytesRatio, "max", bytesRatio, 1))
    ).flatten
  }
}
