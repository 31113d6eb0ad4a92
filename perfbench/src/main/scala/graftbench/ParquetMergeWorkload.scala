package graftbench

import graft.sources.{ParquetIO, Tools}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * `parquet_merge`: the engine's namesake path. Each cycle derives 8 inputs
 * from the `lineitem` fixture with seeded schema drift and shifted key
 * ranges, writes them with [[ParquetIO.write]] at the reference 16 MB row
 * group size, merges them with [[ParquetIO.merge]] at 1 MB row groups,
 * reads the merged
 * footers with [[Tools.rowGroups]] / [[Tools.columnChunks]], and scans the
 * result (2 columns and all columns, materialized through the noop sink)
 * plus one aggregate.
 *
 * Inputs: a seeded 1-in-2 sample of sf0.1 `lineitem` (about 300k rows).
 * Drift: within a cycle, inputs of one parity (chosen per cycle from the
 * seed) drop `l_tax` and narrow `l_quantity` from double to int. Input `i`
 * holds the `lineitem` rows whose seeded hash falls in bucket `i`, with
 * `l_orderkey` shifted by `(i + 1) * KeyShift`, so key ranges never overlap.
 */
final class ParquetMergeWorkload extends Workload {
  val name = "parquet_merge"
  private val Inputs = 8
  private val KeyShift = 100000000L
  // a seeded 1-in-2 sample of lineitem keeps a cycle near 5 s on 4 cores
  private val SampleEvery = 2
  // inputs are written at the reference 16 MB row group size, so each is
  // one row group; the merge uses 1/16 of it, so the merged file holds
  // several size-bounded row groups at this input scale, as a merge of
  // 16x the rows does at 16 MB
  private val opts = ParquetIO.WriteOptions(rowGroupBytes = ParquetIO.ReferenceRowGroupBytes)
  private val mergeOpts = ParquetIO.WriteOptions(rowGroupBytes = ParquetIO.ReferenceRowGroupBytes / 16)
  private var base: DataFrame = _
  private var baseRows = 0L

  def inputs: String =
    s"$Inputs inputs per cycle partitioning a seeded 1-in-$SampleEvery sample of sf0.1 " +
      s"lineitem ($baseRows rows in total), " +
      "16 MB row groups, merged into one dataset at 1 MB row groups"

  def prepare(ctx: Ctx): Unit = {
    if (base != null) base.unpersist(blocking = true)
    base = ctx.spark.read.parquet(s"${ctx.fixtures}/sf0.1/lineitem.parquet")
      .where(pmod(xxhash64(lit(ctx.seed), lit(-1), col("l_orderkey"), col("l_linenumber")),
        lit(SampleEvery.toLong)) === 0)
      .persist(StorageLevel.MEMORY_ONLY)
    baseRows = base.count()
  }

  def warmup(ctx: Ctx): Unit = {
    val dir = s"${ctx.work}/pm/warmup"
    ParquetIO.write(base.limit(1000), s"$dir/in", opts)
    ParquetIO.merge(ctx.spark, Seq(s"$dir/in", s"$dir/in"), s"$dir/out", opts = mergeOpts)
    Tools.rowGroups(ctx.spark, s"$dir/out")
    ParquetIO.read(ctx.spark, Seq(s"$dir/out")).write.format("noop").mode("overwrite").save()
    Disk.rm(dir)
  }

  private def bucket(ctx: Ctx, cycle: Int): Column =
    pmod(xxhash64(lit(ctx.seed), lit(cycle), col("l_orderkey"), col("l_linenumber")),
      lit(Inputs.toLong))

  /** Parity of the drifted inputs in a cycle. */
  private def drift(ctx: Ctx, cycle: Int): Int = ((ctx.seed ^ cycle.toLong) & 1L).toInt

  /** Input `i` of a cycle, as written. */
  private def input(ctx: Ctx, cycle: Int, i: Int): DataFrame = {
    val df = base.where(bucket(ctx, cycle) === i)
      .withColumn("l_orderkey", col("l_orderkey") + lit((i + 1) * KeyShift))
    if (((i + drift(ctx, cycle)) & 1) == 1)
      df.drop("l_tax").withColumn("l_quantity", col("l_quantity").cast("int"))
    else df
  }

  /** Columns every input has, in a type every input agrees on. */
  private val shared: Seq[Column] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_extendedprice", "l_discount", "l_returnflag",
    "l_linestatus", "l_shipdate").map(col) :+ col("l_quantity").cast("double")

  private val digestCols: Seq[Column] = Seq(count(lit(1)),
    sum(xxhash64(shared: _*).cast("decimal(38,0)")),
    sum(when(col("l_tax").isNull, 1L).otherwise(0L)))

  /** Plain-Spark expectation for every input of a cycle in one job:
    * bucket -> (rows, digest over the shared columns, null l_tax rows). */
  private def expected(ctx: Ctx, c: Int): Map[Int, (Long, BigDecimal, Long)] = {
    val drifted = pmod(col("b") + lit(drift(ctx, c)), lit(2)) === 1
    base.withColumn("b", bucket(ctx, c).cast("int"))
      .withColumn("l_orderkey", col("l_orderkey") + (col("b") + 1) * lit(KeyShift))
      .withColumn("l_quantity", when(drifted, col("l_quantity").cast("int").cast("double"))
        .otherwise(col("l_quantity")))
      .withColumn("l_tax", when(drifted, lit(null).cast("double")).otherwise(col("l_tax")))
      .groupBy("b").agg(digestCols.head, digestCols.tail: _*).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3))))
      .toMap
  }

  /** The previous cycle's directory and expectation, checked in [[verify]]. */
  private var last: Option[(String, Long, BigDecimal, Long)] = None

  def cycle(ctx: Ctx, c: Int): Unit = {
    val dir = s"${ctx.work}/pm/c$c"
    val spark = ctx.spark
    val exp = expected(ctx, c)
    val paths = (0 until Inputs).map(i => s"$dir/in$i")
    (0 until Inputs).foreach { i =>
      val rows = exp.get(i).map(_._1).getOrElse(0L)
      ctx.call("parquetio", "write", rows)(ParquetIO.write(input(ctx, c, i), paths(i), opts))
    }
    val total = exp.values.map(_._1).sum
    val out = s"$dir/merged"
    ctx.call("parquetio", "merge", total)(ParquetIO.merge(spark, paths, out, opts = mergeOpts))
    val groups = ctx.call("tools", "row_groups")(Tools.rowGroups(spark, out))
    val chunks = ctx.call("tools", "column_chunks")(Tools.columnChunks(spark, out))
    ctx.call("parquetio", "scan_2col", total) {
      ParquetIO.read(spark, Seq(out)).select("l_orderkey", "l_extendedprice")
        .write.format("noop").mode("overwrite").save()
    }
    ctx.call("parquetio", "scan_all", total) {
      ParquetIO.read(spark, Seq(out)).write.format("noop").mode("overwrite").save()
    }
    val agg = ctx.call("parquetio", "aggregate", total) {
      ParquetIO.read(spark, Seq(out)).groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("q")).collect()
    }

    ctx.check(s"cycle $c: footers count every merged row")(groups.map(_.numRows).sum == total)
    ctx.check(s"cycle $c: aggregate covers every merged row")(agg.map(_.getLong(2)).sum == total)
    ctx.check(s"cycle $c: column chunks cover the merged schema") {
      chunks.map(_.column).distinct.size == base.columns.length
    }
    if (c == 0) {
      ctx.layer("parquetio.files_out", groups.map(_.file).distinct.size)
      ctx.layer("parquetio.row_groups_out", groups.size)
      ctx.layer("parquetio.bytes_out", Disk.bytesUnder(out))
    }
    last.foreach { case (d, _, _, _) => Disk.rm(d) }
    last = Some((dir, total, exp.values.map(_._2).sum, exp.values.map(_._3).sum))
  }

  def verify(ctx: Ctx): Unit = last.foreach { case (dir, total, sum, nulls) =>
    val r = ParquetIO.read(ctx.spark, Seq(s"$dir/merged"))
      .agg(digestCols.head, digestCols.tail: _*).head()
    val (n, d, nullTax) = (r.getLong(0), BigDecimal(r.getDecimal(1)), r.getLong(2))
    ctx.check("merged row count equals the sum of input rows")(n == total)
    ctx.check("merged digest over shared columns equals the inputs' digest")(d == sum)
    ctx.check("dropped l_tax is null-filled exactly on drifted inputs' rows")(nullTax == nulls)
  }

  def named(ctx: Ctx): Seq[Named] = {
    def rates(op: String) = ctx.ok(op).filter(_.seconds > 0).map(c => c.rows / c.seconds)
    val scans = ctx.calls.filter(_.ok).groupBy(_.cycle).values.flatMap { cs =>
      val s = cs.filter(c => c.op == "scan_2col" || c.op == "scan_all")
      if (s.size == 2) Some(s.map(_.rows).sum / s.map(_.seconds).sum) else None
    }.toSeq
    Seq(Named.rate("write_rows_per_s", "rows/s", rates("write")),
      Named.rate("merge_rows_per_s", "rows/s", rates("merge")),
      Named.rate("scan_rows_per_s", "rows/s", scans)).flatten
  }
}
