package graft

import graft.sources.{ParquetIO, Tools}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/**
 * Round-trip parity tests mirroring the reference's self-verifying examples
 * (SURVEY.md §5): write known data covering the §1 type lattice, read it
 * back, compare exactly — nulls (def levels) and arrays (rep levels)
 * included — plus row-group sizing and the S13 merge invariants.
 */
class ParquetIOSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(): String = Files.createTempDirectory("graft-io").toString

  // the §1/FIXTURES A1 type surface, Spark-mapped
  private val schema = StructType(Seq(
    StructField("boolean_field", BooleanType, nullable = false),
    StructField("int32_field", IntegerType, nullable = false),
    // parquet read-back always reports array elements nullable
    StructField("int64_rep_field", ArrayType(LongType, containsNull = true), nullable = false),
    StructField("ts_field", TimestampType, nullable = false),
    StructField("float_field", FloatType, nullable = false),
    StructField("double_field", DoubleType, nullable = false),
    StructField("ba_field", StringType, nullable = true),     // OPTIONAL — nulls on odd rows
    StructField("flba_field", BinaryType, nullable = false))) // fixed-len 10 by construction

  private def mkRows(n: Int): Seq[Row] = (0 until n).map { i =>
    Row(i % 2 == 0, i, Seq(i.toLong, i * 1000L),
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i.toLong * 60)),
      i * 1.1f, i * 1.1111111,
      if (i % 2 == 1) null else s"parquet$i",
      Array.fill[Byte](10)(i.toByte))
  }

  test("round-trip: all physical types, nulls, repeated fields, snappy") {
    val dir = tmp() + "/rt"
    val n = 500
    val df = spark.createDataFrame(spark.sparkContext.parallelize(mkRows(n), 2), schema)
    ParquetIO.write(df, dir)
    val back = spark.read.parquet(dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val got = back.orderBy("int32_field").collect()
    val want = mkRows(n)
    assert(got.length == n)
    (got zip want).foreach { case (g, w) =>
      assert(g.getBoolean(0) == w.getBoolean(0))
      assert(g.getInt(1) == w.getInt(1))
      assert(g.getSeq[Long](2) == w.getSeq[Long](2))          // rep levels
      assert(g.getTimestamp(3) == w.getTimestamp(3))
      assert(g.getFloat(4) == w.getFloat(4))
      assert(g.getDouble(5) == w.getDouble(5))
      assert(g.isNullAt(6) == (w.get(6) == null))             // def levels
      if (!g.isNullAt(6)) assert(g.getString(6) == w.getString(6))
      assert(g.getAs[Array[Byte]](7).toSeq == w.getAs[Array[Byte]](7).toSeq)
    }
    // compression actually applied
    val chunks = Tools.columnChunks(spark, dir)
    assert(chunks.nonEmpty && chunks.forall(_.codec == "SNAPPY"))
  }

  test("row-group sizing: small block size yields multiple row groups") {
    val dir = tmp() + "/rg"
    val df = spark.range(200000).selectExpr("id", "cast(id as string) as s", "id * 1.5 as d")
      .coalesce(1)
    ParquetIO.write(df, dir, ParquetIO.WriteOptions(rowGroupBytes = 64 * 1024, pageRowCountLimit = 1000))
    val rgs = Tools.rowGroups(spark, dir)
    assert(rgs.map(_.numRows).sum == 200000L)
    assert(rgs.size > 1, s"expected multiple row groups, got ${rgs.size}")
  }

  test("zstd codec: footer reports ZSTD, content round-trips") {
    val dir = tmp() + "/zstd"
    val df = spark.range(50000).selectExpr("id", "cast(id as string) as s")
    ParquetIO.write(df, dir, ParquetIO.WriteOptions(compression = "zstd"))
    val chunks = Tools.columnChunks(spark, dir)
    assert(chunks.nonEmpty && chunks.forall(_.codec == "ZSTD"))
    assert(spark.read.parquet(dir).agg(sum("id")).head.getLong(0) == 49999L * 50000 / 2)
  }

  test("bloom filters: present values always accepted, absent value pruned somewhere") {
    val dir = tmp() + "/bloom"
    // high-cardinality UNSORTED key: every row group spans ~the whole
    // domain, so min/max stats can never prune a point lookup — the
    // bloom filter is the only pruning mechanism. Small row groups force
    // several filters per file.
    val df = spark.range(200000)
      .selectExpr("pmod(id * 2654435761, 1000000) * 2 as k", "id as v")  // even keys only
      .coalesce(2)
    ParquetIO.writeWithBloomFilters(df, dir, Seq("k"), expectedNdv = 50000,
      ParquetIO.WriteOptions(rowGroupBytes = 256 * 1024, pageRowCountLimit = 5000))
    val rgs = Tools.rowGroups(spark, dir)
    assert(rgs.size >= 4, s"want several row groups, got ${rgs.size}")
    // every row group carries a bloom filter for k
    val present = spark.read.parquet(dir).select("k").head.getLong(0)
    val hits = Tools.bloomMightContain(spark, dir, "k", present)
    assert(hits.forall(_._3.isDefined), "every chunk must carry a bloom filter")
    // no false negatives: the row group that holds `present` must accept it
    assert(hits.exists(_._3.contains(true)))
    // an odd key never occurs; at ndv-sized bitsets the FPP is ~1%, so
    // requiring at least one rejecting row group is deterministic in
    // practice for this fixed dataset
    val absent = Tools.bloomMightContain(spark, dir, "k", 12345L)  // odd => absent
    assert(absent.exists(_._3.contains(false)),
      s"absent key should be rejected by at least one row group: $absent")
    // a column written WITHOUT bloom filters reports None
    val none = Tools.bloomMightContain(spark, dir, "v", 0L)
    assert(none.forall(_._3.isEmpty))
    // and the Spark scan still answers the point lookup correctly
    assert(spark.read.parquet(dir).filter(col("k") === present).count() >= 1)
    assert(spark.read.parquet(dir).filter(col("k") === 12345L).count() == 0)
  }

  test("bloom probe hashes in the column's physical type: Long on int, Int on long") {
    val dir = tmp() + "/bloom_types"
    val df = spark.range(1000).selectExpr("cast(id * 2 as int) as i", "id * 2 as l",
      "cast(id * 2 as decimal(12,2)) as d").coalesce(1)
    ParquetIO.writeWithBloomFilters(df, dir, Seq("i", "l", "d"), expectedNdv = 1000)
    val longOnInt = Tools.bloomMightContain(spark, dir, "i", 42L)
    val intOnLong = Tools.bloomMightContain(spark, dir, "l", 42)
    assert(longOnInt.nonEmpty && longOnInt.forall(_._3.contains(true)), longOnInt)
    assert(intOnLong.nonEmpty && intOnLong.forall(_._3.contains(true)), intOnLong)
    // a decimal(12,2) chunk is INT64 holding the UNSCALED value (4200 for
    // 42.00): a BigDecimal probe must never read as absent
    for (v <- Seq[Any](new java.math.BigDecimal("42.00"), BigDecimal("42.00"))) {
      val onDecimal = Tools.bloomMightContain(spark, dir, "d", v)
      assert(onDecimal.nonEmpty && !onDecimal.exists(_._3.contains(false)), onDecimal)
    }
  }

  test("DecimalType round-trip: FLBA physical for p>18, INT64 for p<=18, values exact") {
    // SURVEY §1 type table: FIXED_LEN_BYTE_ARRAY ⇄ DecimalType(p,s). The
    // standard (non-legacy) writer packs p<=18 into INT64 and p>18 into
    // FLBA — cover both physical encodings plus nulls (def levels) in one
    // write→read cycle, footer-asserted.
    val dir = tmp() + "/dec"
    val decSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("d18", DecimalType(18, 2), nullable = false),
      StructField("d38", DecimalType(38, 10), nullable = true)))
    val rows = (0 until 200).map { i =>
      Row(i, new java.math.BigDecimal(s"$i.25"),
        if (i % 7 == 0) null
        else new java.math.BigDecimal(s"${i}23456789012345678.0123456789"))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), decSchema)
    ParquetIO.write(df, dir)
    // footer: physical types per the §1 mapping
    val phys = Tools.columnChunks(spark, dir).groupBy(_.column)
      .map { case (c, cs) => c -> cs.map(_.physicalType).distinct }
    assert(phys("d18") == Seq("INT64"), s"d18 physical ${phys("d18")}")
    assert(phys("d38") == Seq("FIXED_LEN_BYTE_ARRAY"), s"d38 physical ${phys("d38")}")
    // logical type survives: schema-on-read reports the same DecimalType
    val back = spark.read.parquet(dir)
    assert(back.schema("d18").dataType == DecimalType(18, 2))
    assert(back.schema("d38").dataType == DecimalType(38, 10))
    val got = back.orderBy("id").collect()
    (got zip rows).foreach { case (g, w) =>
      assert(g.getDecimal(1).compareTo(w.getDecimal(1)) == 0)
      assert(g.isNullAt(2) == (w.get(2) == null))
      if (!g.isNullAt(2)) assert(g.getDecimal(2).compareTo(w.getDecimal(2)) == 0)
    }
  }

  test("merge (S13): N files -> one dataset, schema drift by name, counts preserved") {
    val base = tmp()
    val a = s"$base/a"; val b = s"$base/b"; val out = s"$base/out"
    spark.range(1000).selectExpr("id", "id * 2 as x").write.parquet(a)
    spark.range(500).selectExpr("id + 1000 as id", "cast(id as string) as extra").write.parquet(b)
    ParquetIO.merge(spark, Seq(a, b), out)
    val merged = spark.read.parquet(out)
    assert(merged.count() == 1500)
    assert(merged.columns.sorted.toSeq == Seq("extra", "id", "x"))
    // drifted columns null-filled, originals preserved
    assert(merged.filter("x IS NOT NULL").count() == 1000)
    assert(merged.filter("extra IS NOT NULL").count() == 500)
    // M5 analogue: row groups exist and respect the (default, large) bound
    val rgs = Tools.rowGroups(spark, out)
    assert(rgs.nonEmpty && rgs.map(_.numRows).sum == 1500L)
  }

  test("merge of drifted inputs == the per-input spark.read.parquet union: schema and rows") {
    val base = tmp()
    val ins = Seq(s"$base/a", s"$base/b", s"$base/c")
    spark.range(600).selectExpr("id", "id * 3 as q", "id / 7.0 as tax").write.parquet(ins(0))
    // drops tax
    spark.range(600, 900).selectExpr("id", "id * 3 as q").write.parquet(ins(1))
    // narrows q to int
    spark.range(900, 1300).selectExpr("id", "cast(id * 3 as int) as q", "id / 7.0 as tax")
      .repartition(3).write.parquet(ins(2))
    val out = s"$base/out"
    ParquetIO.merge(spark, ins, out)
    val want = ins.map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val got = spark.read.parquet(out)
    assert(got.schema === want.schema)
    assert(got.count() === 1300L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  /** The FileSourceScanExec count of the first query `body` runs that
    * scans files under `dir`. */
  private def scansUnder(dir: String)(body: => Unit): Integer = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val counts = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener
        with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val n = collect(qe.executedPlan) {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s
        }.size
        if (n > 0) counts.put(n)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; counts.poll(60, java.util.concurrent.TimeUnit.SECONDS) }
    finally spark.listenerManager.unregister(listener)
  }

  test("merge of 8 inputs in 2 schemas plans one scan per schema, rows and column order kept") {
    val base = tmp()
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
    // the parquet_merge shape: every second input drops l_tax and
    // narrows l_quantity to int
    val ins = (0 until 8).map { i =>
      val part = li.filter(pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(8)) === i)
      val p = s"$base/in$i"
      (if (i % 2 == 1) part.drop("l_tax").withColumn("l_quantity", col("l_quantity").cast("int"))
       else part).write.parquet(p)
      p
    }
    val out = s"$base/out"
    assert(scansUnder(base)(ParquetIO.merge(spark, ins, out)) === 2)
    val want = ins.map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val got = spark.read.parquet(out)
    assert(got.schema === want.schema)
    assert(got.count() === li.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("merge reads an input file replaced in place under the same name with its new schema") {
    val base = tmp()
    val in = s"$base/in.parquet"
    def place(df: org.apache.spark.sql.DataFrame): Unit = {
      val stage = s"$base/stage"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(in),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    place(spark.range(10).selectExpr("id", "id * 2 as x"))
    ParquetIO.merge(spark, Seq(in), s"$base/out1")
    assert(spark.read.parquet(s"$base/out1").columns.toSeq === Seq("id", "x"))
    place(spark.range(10, 30).selectExpr("id", "cast(id as string) as y", "id * 3 as z"))
    ParquetIO.merge(spark, Seq(in), s"$base/out2")
    val got = spark.read.parquet(s"$base/out2")
    assert(got.columns.toSeq === Seq("id", "y", "z"))
    assert(got.filter("y IS NOT NULL AND z IS NOT NULL").count() === 20L)
  }

  test("merge: an input listed twice contributes its rows twice") {
    val base = tmp()
    val (a, b) = (s"$base/a", s"$base/b")
    spark.range(10).selectExpr("id", "id * 2 as x").write.parquet(a)
    spark.range(100, 105).selectExpr("id", "id * 2 as x", "id as extra").write.parquet(b)
    ParquetIO.merge(spark, Seq(a, b, a), s"$base/out")
    val got = spark.read.parquet(s"$base/out")
    assert(got.count() === 25L)
    assert(got.filter("id < 10").groupBy("id").count().filter("count != 2").isEmpty)
    assert(got.filter("extra IS NOT NULL").count() === 5L)
  }

  /** `ParquetIO.merge` of `ins` into a fresh dir, read back. */
  private def merged(base: String, ins: String*): org.apache.spark.sql.DataFrame = {
    val out = s"$base/out-${java.util.UUID.randomUUID()}"
    ParquetIO.merge(spark, ins, out)
    spark.read.parquet(out)
  }

  private def sameRows(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.schema === want.schema)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("merge of a hive-partitioned dir keeps the partition column, typed as spark.read types it") {
    val base = tmp()
    val in = s"$base/in"
    // p is written LONG; partition inference reads small values back INT
    spark.range(300).selectExpr("id", "cast(id as string) as s", "id % 3 as p")
      .write.partitionBy("p").parquet(in)
    val want = spark.read.parquet(in)
    assert(want.schema("p").dataType === IntegerType)
    sameRows(merged(base, in), want)
  }

  test("merge of a glob input reads what spark.read.parquet reads for the glob") {
    val base = tmp()
    val in = s"$base/in"
    spark.range(200).selectExpr("id", "id * 2 as x").repartition(4).write.parquet(in)
    val glob = s"$in/part-*.parquet"
    sameRows(merged(base, glob), spark.read.parquet(glob))
  }

  test("merge of a single-file input reads that file") {
    val base = tmp()
    spark.range(50).selectExpr("id", "cast(id as string) as s").coalesce(1)
      .write.parquet(s"$base/in")
    val file = new java.io.File(s"$base/in").listFiles()
      .find(_.getName.endsWith(".parquet")).get.getPath
    sameRows(merged(base, file), spark.read.parquet(file))
  }

  test("merge: a hive-partitioned input listed twice contributes its rows twice") {
    val base = tmp()
    val in = s"$base/in"
    spark.range(30).selectExpr("id", "id % 2 as p").write.partitionBy("p").parquet(in)
    val once = spark.read.parquet(in)
    sameRows(merged(base, in, in), once.unionByName(once))
  }

  test("merge of a missing input or of an input with no data file throws") {
    val base = tmp()
    intercept[Exception](ParquetIO.merge(spark, Seq(s"$base/missing"), s"$base/out1"))
    val empty = s"$base/empty"
    Files.createDirectories(java.nio.file.Paths.get(empty))
    Files.write(java.nio.file.Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    intercept[Exception](ParquetIO.merge(spark, Seq(empty), s"$base/out2"))
  }

  test("compactSorted: disjoint per-file key ranges, content preserved") {
    val base = tmp()
    val a = s"$base/a"; val b = s"$base/b"; val out = s"$base/out"
    // two unsorted, interleaved-key inputs
    spark.range(4000).selectExpr("pmod(id * 2654435761, 4096) as k", "id as v")
      .write.parquet(a)
    spark.range(4000, 8000).selectExpr("pmod(id * 2654435761, 4096) as k", "id as v")
      .write.parquet(b)
    ParquetIO.compactSorted(spark, Seq(a, b), out, Seq("k"),
      targetFileBytes = ParquetIO.inputBytes(spark, Seq(a, b)) / 4)
    val merged = spark.read.parquet(out)
    assert(merged.count() == 8000)
    // clustering evidence: each output file's k-range is disjoint from
    // every other file's, so footer min/max stats prune whole files for
    // range predicates (the plain merge leaves them fully overlapping)
    val ranges = Tools.columnChunks(spark, out)
      .filter(_.column == "k")
      .groupBy(_.file).map { case (_, cs) =>
        (cs.map(_.minValue.toLong).min, cs.map(_.maxValue.toLong).max)
      }.toSeq.sortBy(_._1)
    assert(ranges.size >= 2, "sizing must yield multiple files")
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo, "file key ranges must not overlap")
      case _ =>
    }
    // content equality with the plain union
    val expect = spark.read.parquet(a).unionByName(spark.read.parquet(b))
    assert(merged.except(expect).isEmpty && expect.except(merged).isEmpty)
  }

  test("compactZOrder: per-file footer stats stay tight on BOTH keys") {
    val base = tmp()
    val in = s"$base/in"; val outZ = s"$base/z"; val outX = s"$base/x"
    // two independent uniform keys — a single-key sort can only serve one
    spark.range(65536).selectExpr(
        "id", "pmod(id * 2654435761, 65536) as x", "pmod(id * 40503 + 7, 65536) as y")
      .write.parquet(in)
    val target = ParquetIO.inputBytes(spark, Seq(in)) / 16
    ParquetIO.compactZOrder(spark, Seq(in), outZ, Seq("x", "y"), targetFileBytes = target)
    ParquetIO.compactSorted(spark, Seq(in), outX, Seq("x"), targetFileBytes = target)
    def avgSpan(dir: String, c: String): Double = {
      val spans = Tools.columnChunks(spark, dir).filter(_.column == c)
        .groupBy(_.file).map { case (_, cs) =>
          cs.map(_.maxValue.toLong).max - cs.map(_.minValue.toLong).min + 1
        }.toSeq
      assert(spans.size >= 4, s"sizing must yield several files, got ${spans.size}")
      spans.sum.toDouble / spans.size / 65536.0
    }
    // z-order: BOTH dims bounded per file (a z-range is a small
    // hyper-rectangle); x-sort: x tight but y spans ~the full domain
    assert(avgSpan(outZ, "x") < 0.5 && avgSpan(outZ, "y") < 0.5,
      "z-ordered files must bound both key spans")
    assert(avgSpan(outX, "x") < 0.2, "single-key sort keeps its own key tight")
    assert(avgSpan(outX, "y") > 0.8, "single-key sort leaves the other key unbounded")
    // content parity
    val merged = spark.read.parquet(outZ)
    assert(merged.count() == 65536)
    assert(merged.agg(sum(col("x")), sum(col("y"))).collect()(0) ==
      spark.read.parquet(in).agg(sum(col("x")), sum(col("y"))).collect()(0))
    assert(merged.columns.sorted.toSeq == Seq("id", "x", "y"), "__z scratch column dropped")
  }

  test("metadata introspection (M1-M4) on driver testdata") {
    val p = s"${TestSpark.sf}/lineitem.parquet"
    val tree = Tools.schemaTree(spark, p)
    assert(tree.contains("l_orderkey") && tree.contains("l_shipdate"))
    assert(Tools.schemaJson(spark, p).contains("\"l_quantity\""))
    val rgs = Tools.rowGroups(spark, p)
    assert(rgs.map(_.numRows).sum == 6000L)
    val chunks = Tools.columnChunks(spark, p)
    assert(chunks.exists(c => c.column == "l_orderkey" && c.numValues == 6000L))
    // pandas writes KV metadata into these files — read side works
    assert(Tools.keyValueMetadata(spark, p).contains("pandas"))
  }

  test("timed projected scan (parquet-scan analogue)") {
    val (rows, secs) = Tools.timedScan(spark, s"${TestSpark.sf}/lineitem.parquet",
      Seq("l_orderkey", "l_quantity"))
    assert(rows == 6000L && secs > 0.0)
  }

  test("timed scan reads exactly the requested columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val scans = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener
        with AdaptiveSparkPlanHelper {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        collect(qe.executedPlan) { case s: FileSourceScanExec => s }
          .foreach(s => scans.put(s.requiredSchema.fieldNames.mkString(",")))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val path = s"${TestSpark.sf}/lineitem.parquet"
      val (rows, _) = Tools.timedScan(spark, path, Seq("l_orderkey", "l_quantity"))
      assert(rows == 6000L)
      assert(scans.poll(30, java.util.concurrent.TimeUnit.SECONDS) == "l_orderkey,l_quantity")
      Tools.timedScan(spark, path)
      assert(scans.poll(30, java.util.concurrent.TimeUnit.SECONDS) ==
        spark.read.parquet(path).schema.fieldNames.mkString(","))
    } finally spark.listenerManager.unregister(listener)
  }

  test("timed scan honors --batch-size without leaking session conf (parquet-scan.cc:35)") {
    val key = "spark.sql.parquet.columnarReaderBatchSize"
    val before = spark.conf.getOption(key)
    val (rows, _) = Tools.timedScan(spark, s"${TestSpark.sf}/lineitem.parquet",
      Seq("l_orderkey"), batchSize = Some(512))
    assert(rows == 6000L)
    assert(spark.conf.getOption(key) == before)   // restored after the scan
  }

  test("value-level dump: def/rep levels match null and array structure (parquet_reader.cc:66-72)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lvl").toString + "/t"
    // 4 rows: id always set; v null on odd ids; arr = [id, id+1] (repeated)
    spark.range(0, 4).repartition(1).sortWithinPartitions("id")
      .selectExpr("id", "if(id % 2 = 1, null, cast(id as double)) as v",
        "array(id, id + 1) as arr")
      .write.parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.toString).sorted.head
    val vl = Tools.valueLevels(spark, file)
    val byCol = vl.groupBy(_.column)
    // id: required-ish long column — 4 values, no nulls, rep always 0
    val ids = byCol("id")
    assert(ids.map(_.value) == Seq("0", "1", "2", "3"))
    assert(ids.forall(_.rep == 0))
    // v: nullable — null slots surface as def < maxDef with NULL value
    val vs = byCol("v")
    assert(vs.map(_.value) == Seq("0.0", "NULL", "2.0", "NULL"))
    assert(vs.filter(_.value == "NULL").forall(v => v.defLevel < vs.map(_.defLevel).max))
    // arr.list.element: 8 values; rep=0 starts a record, rep>0 continues
    // one — exactly the reference's repeated-field semantics
    val arr = byCol.keys.find(_.startsWith("arr")).map(byCol).get
    assert(arr.size == 8)
    assert(arr.map(_.rep) == Seq(0, 1, 0, 1, 0, 1, 0, 1))
    assert(arr.map(_.value) == Seq("0", "1", "1", "2", "2", "3", "3", "4"))
  }

  test("value-level dump decodes the remaining physical types (float/bool/binary/INT96)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lvl2").toString + "/t"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      spark.sql(
        """SELECT cast(1.5 as float) AS f, true AS bo,
           cast(x'DEAD' as binary) AS bin,
           timestamp'2024-01-02 03:04:05' AS ts""").write.parquet(dir)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.toString).sorted.head
    val byCol = Tools.valueLevels(spark, file).groupBy(_.column)
    assert(byCol("f").map(_.value) == Seq("1.5"))
    assert(byCol("bo").map(_.value) == Seq("true"))
    assert(byCol("bin").map(_.value) == Seq("0xdead"))
    // INT96: 12 bytes (nanos-in-day + julian day), hex-rendered
    val ts = byCol("ts").head.value
    assert(ts.startsWith("0x") && ts.length == 2 + 24, s"unexpected INT96 rendering: $ts")
  }

  test("S11: single-row-group read returns exactly one group's rows (reader-writer.cc:77-90)") {
    // build a file with several row groups by capping page/block size
    val dir = java.nio.file.Files.createTempDirectory("graft-s11").toString + "/t"
    val df = spark.range(0, 10000).repartition(1).sortWithinPartitions("id")
      .selectExpr("id", "cast(id % 97 as double) as v",
        "repeat(cast(id as string), 8) as s")
    ParquetIO.write(df, dir, ParquetIO.WriteOptions(rowGroupBytes = 64 * 1024,
      pageRowCountLimit = 500))
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.toString).sorted.head
    val rgs = Tools.rowGroups(spark, file)
    assert(rgs.size > 1, s"need a multi-row-group file, got ${rgs.size}")
    val got = Tools.readRowGroup(spark, file, 1)
    // exactly the second group's row count, and exactly its row slice:
    // the writer task emitted rows in ascending id order, so RG 1 holds
    // the file's rows [rows(RG0), rows(RG0)+rows(RG1)) in id order
    assert(got.count() == rgs(1).numRows)
    val full = spark.read.parquet(file).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1)
    val expected = full.slice(rgs(0).numRows.toInt, (rgs(0).numRows + rgs(1).numRows).toInt).toSet
    val actual = got.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(actual == expected)
  }

  test("upsert: latest-wins per key, update side wins version ties, schema drift tolerated") {
    val base0 = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    import spark.implicits._
    // base: keys 1..100 at v0; updates: keys 50..100 ALSO at v0 (tie — the
    // update side must win, the Delta/Iceberg contract) + inserts 101..110
    // at v1 carrying a drifted extra column
    (1L to 100L).map(k => (k, s"base$k", 0L)).toDF("k", "payload", "v")
      .write.parquet(s"$base0/base")
    ((50L to 100L).map(k => (k, s"upd$k", 0L)) ++ (101L to 110L).map(k => (k, s"ins$k", 1L)))
      .toDF("k", "payload", "v")
      .withColumn("extra", col("k") * 2)
      .write.parquet(s"$base0/upd")
    ParquetIO.upsert(spark, Seq(s"$base0/base"), Seq(s"$base0/upd"), s"$base0/out",
      Seq("k"), "v")
    val out = spark.read.parquet(s"$base0/out")
      .select("k", "payload").as[(Long, String)].collect().toMap
    assert(out.size == 110)
    assert((1L to 49L).forall(k => out(k) == s"base$k"), "untouched keys keep base rows")
    assert((50L to 100L).forall(k => out(k) == s"upd$k"), "version ties go to the update side")
    assert((101L to 110L).forall(k => out(k) == s"ins$k"), "new keys inserted")
    // drifted column survives via unionByName(allowMissing): null on base rows
    val extra = spark.read.parquet(s"$base0/out").select("k", "extra")
      .as[(Long, Option[Long])].collect().toMap
    assert(extra(1L).isEmpty && extra(105L).contains(210L))
    // the one-exchange claim: clustering at the output file count already
    // satisfies the survivor window's key distribution, so the whole merge
    // carries exactly ONE shuffle (pin against planner drift)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("k")).orderBy(desc("v"), desc("__src"))
    val probe = spark.read.parquet(s"$base0/base").withColumn("__src", lit(0))
      .unionByName(spark.read.parquet(s"$base0/upd").withColumn("__src", lit(1)),
        allowMissingColumns = true)
      .repartition(2, col("k"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__src")
    val plan = probe.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"upsert merge must carry exactly one Exchange:\n$plan")
  }

  test("S9: memory-mapped read equals the stream read, rows and levels (parquet_reader.cc:35,64)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-s9").toString + "/t"
    val df = spark.range(0, 5000).repartition(1).sortWithinPartitions("id")
      .selectExpr("id", "cast(id % 31 as double) as v",
        "case when id % 7 = 0 then null else concat('s', id) end as s")
    ParquetIO.write(df, dir, ParquetIO.WriteOptions(rowGroupBytes = 64 * 1024,
      pageRowCountLimit = 500))
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      .map(_.toString).sorted.head
    def rowsOf(mmap: Boolean) = Tools.readRowGroup(spark, file, 0, mmap = mmap)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    assert(rowsOf(mmap = true) == rowsOf(mmap = false), "mmap rows must equal stream rows")
    // def/rep level dump identical through the mapped path too (nulls
    // exercise def levels)
    val a = Tools.valueLevels(spark, file, maxPerColumn = 200, mmap = false)
    val b = Tools.valueLevels(spark, file, maxPerColumn = 200, mmap = true)
    assert(a == b, "mmap value/level dump must equal stream dump")
    assert(a.exists(_.defLevel == 0), "fixture must exercise null def levels")
  }
}

class Int96Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("INT96 timestamp write parity (reader_writer.h int96_field)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-int96").toString + "/t"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try {
      val df = spark.sql("SELECT timestamp'2024-01-02 03:04:05.123456' AS ts, 1L AS id")
      df.write.parquet(dir)
      val chunk = Tools.columnChunks(spark, dir).find(_.column == "ts").get
      assert(chunk.physicalType == "INT96")
      val back = spark.read.parquet(dir).selectExpr("cast(ts as string)").collect()(0).getString(0)
      assert(back == "2024-01-02 03:04:05.123456")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
  }
}

class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("partitioned write prunes directories at read time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/t"
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
    ParquetIO.writePartitioned(li, dir, Seq("l_returnflag"))
    // only the matching partition directory is read
    val q = spark.read.parquet(dir).filter(col("l_returnflag") === "A")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"))
    val expected = li.filter(col("l_returnflag") === "A").count()
    assert(q.count() == expected)
    // partition dirs exist per value
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(subdirs.exists(_.startsWith("l_returnflag=")))
  }

  test("dynamic partition overwrite rewrites ONLY the restated partition") {
    // the daily-restatement primitive: with static overwrite mode the
    // whole-table delete would nuke all five partitions; dynamic mode must
    // leave the four untouched partitions' files byte-identical (same
    // names, same mtimes) and replace only the restated one.
    def partFiles(root: String): Map[String, Set[String]] =
      new java.io.File(root).listFiles().filter(_.isDirectory).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => s"${f.getName}@${f.lastModified}").toSet
      }.toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-dynow").toString + "/t"
    val orders = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    ParquetIO.writePartitioned(orders, dir, Seq("o_orderpriority"))
    val before = partFiles(dir)
    assert(before.size == 5)
    val restated = orders.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    ParquetIO.overwritePartitions(restated, dir, Seq("o_orderpriority"))
    val after = partFiles(dir)
    val urgent = "o_orderpriority=1-URGENT"
    for (p <- before.keys if p != urgent)
      assert(after(p) == before(p), s"partition $p should be untouched")
    assert(after(urgent) != before(urgent), "restated partition must be rewritten")
    // no rows lost, restatement applied
    assert(spark.read.parquet(dir).count() == orders.count())
    val urgentSum = spark.read.parquet(dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .agg(sum(col("o_totalprice"))).collect()(0).getDouble(0)
    val baseSum = orders.filter(col("o_orderpriority") === "1-URGENT")
      .agg(sum(col("o_totalprice") + 1000.0)).collect()(0).getDouble(0)
    assert(math.abs(urgentSum - baseSum) < 1e-6)
  }

  test("bucketed tables join and aggregate with ZERO shuffle exchanges") {
    // the co-located-join layout: both sides hash-clustered on the join
    // key at write time, so the recurring large-large join pays its
    // shuffle once (at write) and never again. The assertion is on the
    // PLAN — at 100 TB the absent Exchange IS the feature.
    val base = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // one write task per bucket → one file per bucket → in-bucket sort
    // survives to the read side
    ParquetIO.writeBucketed(li.repartition(8, col("l_orderkey")),
      "bkt_lineitem", s"$base/li", 8, Seq("l_orderkey"))
    ParquetIO.writeBucketed(ord.repartition(8, col("o_orderkey")),
      "bkt_orders", s"$base/ord", 8, Seq("o_orderkey"))
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // join key == bucket key == group key, so the scan's bucket
      // hash-partitioning satisfies every distribution requirement
      val joined = spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join+agg on the bucket key must carry no shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan must report bucketing:\n$plan")
      // values still equal the plain-parquet join
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("qty"))
      assert(joined.collect().toSet == expected.collect().toSet)
      // bucket pruning: an equality filter on the bucket key reads ONE of
      // the 8 bucket files — the scan-side complement of the shuffle-free
      // join (point lookups touch 1/numBuckets of the data). The planner's
      // auto-bucketed-scan turns bucketed reading OFF for plans with no
      // distribution requirement, which also forfeits pruning — disable it
      // for the probe, as a point-lookup-heavy workload would.
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val someKey = ord.select(col("o_orderkey")).head().getLong(0)
        val pruned = spark.table("bkt_orders").filter(col("o_orderkey") === someKey)
        val prunedPlan = pruned.queryExecution.executedPlan.toString
        assert(prunedPlan.contains("SelectedBucketsCount: 1 out of 8"),
          s"expected single-bucket scan:\n$prunedPlan")
        assert(pruned.count() == 1)
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
    }
  }

  test("bucketed lifecycle: append keeps the join exchange-free, compaction shrinks per-bucket files") {
    val base = java.nio.file.Files.createTempDirectory("graft-bktlc").toString
    val ord = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val (batch1, batch2) = (ord.filter(col("o_orderkey") % 2 === 0),
      ord.filter(col("o_orderkey") % 2 === 1))
    def bucketFiles(path: String): Map[Int, Int] = {
      val rx = "_(\\d{5})\\.".r
      new java.io.File(path).listFiles().toSeq.map(_.getName)
        .flatMap(n => rx.findFirstMatchIn(n).map(_.group(1).toInt))
        .groupBy(identity).map { case (b, fs) => b -> fs.size }
    }
    ParquetIO.writeBucketed(batch1.repartition(8, col("o_orderkey")),
      "bkt_lc_orders", s"$base/gen0", 8, Seq("o_orderkey"))
    ParquetIO.appendBucketed(batch2.repartition(8, col("o_orderkey")),
      "bkt_lc_orders", 8, Seq("o_orderkey"))
    ParquetIO.writeBucketed(li.repartition(8, col("l_orderkey")),
      "bkt_lc_li", s"$base/li", 8, Seq("l_orderkey"))
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // append landed a second file generation in each bucket
      assert(bucketFiles(s"$base/gen0").values.exists(_ > 1),
        s"append should add per-bucket files: ${bucketFiles(s"$base/gen0")}")
      // post-append: full row set, join still carries no Exchange
      def joined = spark.table("bkt_lc_orders")
        .join(spark.table("bkt_lc_li"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("qty"))
      val expected = ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey")).agg(sum(col("l_quantity")).as("qty"))
        .collect().toSet
      val planAfterAppend = joined.queryExecution.executedPlan.toString
      assert(!planAfterAppend.contains("Exchange"),
        s"post-append bucketed join must stay shuffle-free:\n$planAfterAppend")
      assert(joined.collect().toSet == expected)
      // compaction: fresh generation dir, catalog swap, per-bucket file
      // count shrinks back toward one (usually exactly one — task i of the
      // clustering exchange holds exactly bucket i — but the writer
      // occasionally splits a task's output under load, so the invariant
      // asserted is monotone shrink, never growth)
      val before = bucketFiles(s"$base/gen0")
      ParquetIO.compactBucketed(spark, "bkt_lc_orders", s"$base/gen1",
        8, Seq("o_orderkey"))
      val perBucket = bucketFiles(s"$base/gen1")
      assert(perBucket.nonEmpty && perBucket.values.sum < before.values.sum,
        s"compaction must shrink the file count: $before -> $perBucket")
      assert(perBucket.keySet == (0 until 8).toSet,
        s"every bucket must survive compaction: $perBucket")
      val planAfterCompact = joined.queryExecution.executedPlan.toString
      assert(!planAfterCompact.contains("Exchange"),
        s"post-compaction bucketed join must stay shuffle-free:\n$planAfterCompact")
      assert(joined.collect().toSet == expected)
      // point lookup still prunes to a single bucket
      val prevAuto = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      try {
        val someKey = ord.select(col("o_orderkey")).head().getLong(0)
        val pruned = spark.table("bkt_lc_orders").filter(col("o_orderkey") === someKey)
        assert(pruned.queryExecution.executedPlan.toString
          .contains("SelectedBucketsCount: 1 out of 8"))
        assert(pruned.count() == 1)
      } finally spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", prevAuto)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
      spark.sql("DROP TABLE IF EXISTS bkt_lc_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lc_orders__compacting")
      spark.sql("DROP TABLE IF EXISTS bkt_lc_li")
    }
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // the 100 TB shape: the fact table is partitioned on the join key, the
    // dimension filter is NOT on the partition column — static pruning
    // can't help, but DPP turns the dim's surviving keys into a runtime
    // PartitionFilter on the fact scan, so only matching directories are
    // read. Customer partitioned by nation, dim = nation filtered by
    // region: 5 of 25 nation partitions survive.
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString + "/t"
    val cust = spark.read.parquet(s"${TestSpark.sf}/customer.parquet")
    ParquetIO.writePartitioned(cust, dir, Seq("c_nationkey"))
    val nation = spark.read.parquet(s"${TestSpark.sf}/nation.parquet")
      .filter(col("n_regionkey") === 1)
    val q = spark.read.parquet(dir)
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_cust"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning PartitionFilter on the fact scan:\n$plan")
    val expected = cust.join(nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_cust"))
    assert(q.collect().toSet == expected.collect().toSet)
  }
}

class BucketingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed tables co-locate the join: no shuffle on either side") {
    // in-memory catalog forgets tables across JVMs; the warehouse dirs survive
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (d.exists()) { org.apache.commons.io.FileUtils.deleteDirectory(d) }
    }
    val li = spark.read.parquet(s"${TestSpark.sf}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"${TestSpark.sf}/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("o_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join:\n$plan")
      assert(j.count() == li.join(o, col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}

class ToolsCliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def captureOut(f: => Unit): String = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos))(f)
    bos.toString
  }

  test("schema / dump / scan commands mirror the reference tools") {
    val p = s"${TestSpark.sf}/lineitem.parquet"
    val schemaOut = captureOut(graft.sources.ToolsCli.run(spark, "schema", p, Nil, Nil))
    assert(schemaOut.contains("l_orderkey"))
    val dumpOut = captureOut(graft.sources.ToolsCli.run(spark, "dump", p,
      Seq("--json", "--only-metadata", "--print-kv"), Nil))
    assert(dumpOut.contains("row group 0") && dumpOut.contains("pandas"))
    val scanOut = captureOut(graft.sources.ToolsCli.run(spark, "scan", p, Nil, Seq("l_orderkey")))
    assert(scanOut.contains("6000 rows scanned in"))
  }

  test("schema --raw, history, and maintain CLI commands (round 18)") {
    import spark.implicits._
    import graft.sources.{Fs, TxTable}
    // --raw keeps the logical annotation the Spark tree maps away
    val p = graft.sources.Tools.parquetFiles(spark, s"${TestSpark.sf}/orders.parquet")
      .head.toString
    val raw = captureOut(graft.sources.ToolsCli.run(spark, "schema", p,
      Seq("--raw"), Nil))
    assert(raw.contains("message") && raw.contains("o_orderkey"),
      s"raw MessageType expected: $raw")
    // history + maintain over a small transactional table
    val t = java.nio.file.Files.createTempDirectory("graft-cli-tx").toString + "/t"
    TxTable.create(spark, t,
      (0L until 50L).map(i => (i, 1.0 * i, 0L)).toDF("id", "x", "version"))
    (1 to 3).foreach(v => TxTable.upsert(spark, t,
      Seq((v.toLong, v * 1.0, v.toLong)).toDF("id", "x", "version"),
      Seq("id"), "version"))
    val hist = captureOut(graft.sources.ToolsCli.run(spark, "history", t, Nil, Nil))
    assert(hist.contains("commit 0") && hist.contains("commit 3"), hist)
    val m = captureOut(graft.sources.ToolsCli.run(spark, "maintain", t,
      Seq("--max-tail=2", "--grace-ms=0"), Nil))
    assert(m.contains("did: checkpoint"), m)
    assert(TxTable.read(spark, t).count() === 50L)
    val idle = captureOut(graft.sources.ToolsCli.run(spark, "maintain", t,
      Seq("--max-tail=10"), Nil))
    assert(idle.contains("nothing to do"), idle)
  }

  test("cursors / store / sql CLI commands (round 19)") {
    import spark.implicits._
    import graft.sources.TxTable
    val t = java.nio.file.Files.createTempDirectory("graft-cli-sql").toString + "/t"
    TxTable.create(spark, t,
      (0L until 30L).map(i => (i, 1.0 * i, 0L)).toDF("id", "x", "version"))
    val none = captureOut(graft.sources.ToolsCli.run(spark, "cursors", t, Nil, Nil))
    assert(none.contains("no registered cursors"), none)
    TxTable.registerCursor(t, "etl", 0L)
    val cs = captureOut(graft.sources.ToolsCli.run(spark, "cursors", t, Nil, Nil))
    assert(cs.contains("cursor etl: applied commit 0") &&
      cs.contains("expire floor: 1"), cs)
    val st = captureOut(graft.sources.ToolsCli.run(spark, "store", t, Nil, Nil))
    assert(st.contains("atomic"), st)
    val sql = captureOut(graft.sources.ToolsCli.run(spark, "sql", t,
      Seq("--table=t", "--statement=DELETE FROM t WHERE id % 3 = 0"), Nil))
    assert(sql.contains("committed c1"), sql)
    assert(TxTable.read(spark, t).count() === 20L)
  }

  test("read-row-group --memory-map equals the stream read (S9 CLI parity)") {
    val p = graft.sources.Tools.parquetFiles(spark, s"${TestSpark.sf}/nation.parquet")
      .head.toString
    val streamOut = captureOut(graft.sources.ToolsCli.run(spark, "read-row-group", p,
      Seq("--row-group=0"), Nil))
    val mmapOut = captureOut(graft.sources.ToolsCli.run(spark, "read-row-group", p,
      Seq("--row-group=0", "--memory-map"), Nil))
    assert(mmapOut == streamOut && mmapOut.contains("NATION_0"))
  }

  test("merge command: plain and sorted-compaction forms") {
    val base = java.nio.file.Files.createTempDirectory("graft-mcli").toString
    spark.range(2000).selectExpr("pmod(id * 37, 512) as k", "id as v")
      .write.parquet(s"$base/a")
    spark.range(2000, 4000).selectExpr("pmod(id * 37, 512) as k", "id as v")
      .write.parquet(s"$base/b")
    val out1 = captureOut(graft.sources.ToolsCli.run(spark, "merge", s"$base/a,$base/b",
      Seq(s"--out=$base/plain"), Nil))
    assert(out1.contains("4000 rows"), s"got: $out1")
    val out2 = captureOut(graft.sources.ToolsCli.run(spark, "merge", s"$base/a,$base/b",
      Seq(s"--out=$base/sorted", "--sort-by=k",
        s"--target-file-bytes=${ParquetIO.inputBytes(spark, Seq(s"$base/a", s"$base/b")) / 3}"), Nil))
    assert(out2.contains("4000 rows"), s"got: $out2")
    assert(spark.read.parquet(s"$base/sorted").count() == 4000)
  }

  test("mergeSchema read reconciles drifted files at scan time") {
    val base = java.nio.file.Files.createTempDirectory("graft-ms").toString
    spark.range(10).selectExpr("id", "id * 2 as x").write.parquet(s"$base/d/p1")
    spark.range(10).selectExpr("id + 10 as id", "cast(id as string) as y").write.parquet(s"$base/d/p2")
    val df = ParquetIO.read(spark, Seq(s"$base/d/p1", s"$base/d/p2"), mergeSchema = true)
    assert(df.columns.sorted.toSeq == Seq("id", "x", "y"))
    assert(df.count() == 20)
  }
}

/** The reference type table's last unexercised row (round 18):
  * INT32/TIME_MILLIS (`reader_writer.h:41-42`). Spark has no
  * TIME-millis column type (SURVEY §1 caveat), so the file is written
  * with raw parquet-mr — exactly how a foreign producer would hand us
  * one — and the TOOLS path closes the cell: the raw schema dump
  * carries the annotation, and valueLevels round-trips the values as
  * physical int milliseconds with def-level nulls intact. */
class TimeMillisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("TIME_MILLIS files from parquet-mr read back through the tools path") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val base = java.nio.file.Files.createTempDirectory("graft-timems").toString
    val file = s"$base/t.parquet"
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT32).named("id")
      .optional(PrimitiveTypeName.INT32)
      .as(LogicalTypeAnnotation.timeType(true,
        LogicalTypeAnnotation.TimeUnit.MILLIS))
      .named("t")
      .named("m")
    val w = ExampleParquetWriter.builder(
        new org.apache.hadoop.fs.Path(file))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(schema)
      .build()
    val f = new SimpleGroupFactory(schema)
    // 09:30:00.123 = 34200123 ms-of-day; one null slot in the middle
    val times = Seq(Some(34200123), None, Some(0), Some(86399999))
    try times.zipWithIndex.foreach { case (t, i) =>
      val g = f.newGroup().append("id", i)
      t.foreach(g.append("t", _))
      w.write(g)
    } finally w.close()

    // the annotation is visible on the raw schema dump
    val tree = Tools.parquetSchemaTree(spark, file)
    assert(tree.contains("TIME(MILLIS,true)"), s"schema dump lost the annotation:\n$tree")
    // and on the column-chunk metadata surface
    val cc = Tools.columnChunks(spark, file).find(_.column == "t").get
    assert(cc.physicalType == "INT32")
    assert(cc.numValues == 4 && cc.nullCount == 1)
    // value round-trip: int millis, with the null carried as def<maxDef
    val vl = Tools.valueLevels(spark, file).filter(_.column == "t")
    assert(vl.map(_.value) == Seq("34200123", "NULL", "0", "86399999"),
      s"got: $vl")
  }
}
