package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/**
 * Metadata / introspection parity (SURVEY.md §2.9, M1–M5) — the Spark
 * re-expression of the reference's CLI tools:
 *  - schema tree dump     (`cpp/tools/parquet/parquet-dump-schema.cc:26-33`)
 *  - metadata+value dump  (`cpp/tools/parquet/parquet_reader.cc:63-72`)
 *  - JSON dump            (`parquet_reader.cc:50-51,67-69`)
 *  - key-value metadata   (`parquet_reader.cc:46-47,70-71`)
 *  - timed projected scan (`cpp/tools/parquet/parquet-scan.cc:60-71`)
 *
 * Footer-level facts (row groups, per-chunk stats, KV metadata) come from
 * parquet-mr on the driver — footers only, never data pages, mirroring the
 * reference's `--only-metadata` fast path (`parquet_reader.cc:44-45`).
 *
 * This object also holds the engine's one footer reader, which every
 * footer read elsewhere (ParquetIO's footer schemas, TxTable's written
 * row counts, the stats manifest's footer and bloom passes, the spill
 * convergence test) goes through:
 *  - [[dataFiles]]: which files are data — Spark's own rule ([[isData]]):
 *    any depth, no name starting with `_` or `.`, no empty file;
 *  - [[withFooter]]: one footer open, from the listing's status where
 *    the caller has one (no second status call), closed after;
 *  - [[bloomProbe]]: one bloom verdict, hashed in the chunk's physical
 *    type;
 *  - [[onDriverPool]]: driver-side footer and sidecar reads overlapped.
 */
object Tools {

  /** M1: schema tree, Spark's `treeString` ~ the reference's `PrintSchema`. */
  def schemaTree(spark: SparkSession, path: String): String =
    spark.read.parquet(path).schema.treeString

  /** M3: schema as JSON (the `--json` analogue for schema). */
  def schemaJson(spark: SparkSession, path: String): String =
    spark.read.parquet(path).schema.json

  /** M1 at the PARQUET level (round 18): the file's own MessageType
    * string, logical-type annotations included — `optional int32 t
    * (TIME(MILLIS,true))` survives here where the Spark-schema
    * [[schemaTree]] can only show the mapped Catalyst type. This is the
    * reference's `PrintSchema` on the raw schema tree, and the dump that
    * exercises its type table's one remaining row (TIME_MILLIS,
    * `reader_writer.h:41-42`): Spark has no TIME-millis column type, but
    * the tools path reads the annotation and [[valueLevels]] carries the
    * value as its physical int millis. */
  def parquetSchemaTree(spark: SparkSession, file: String): String =
    withFooter(new Path(file), spark.sparkContext.hadoopConfiguration)(
      _.getFooter.getFileMetaData.getSchema.toString)

  final case class RowGroupInfo(
      file: String,
      rowGroup: Int,
      numRows: Long,
      totalByteSize: Long,
      compressedBytes: Long,
      numColumns: Int)

  final case class ColumnChunkInfo(
      file: String,
      rowGroup: Int,
      column: String,
      physicalType: String,
      codec: String,
      numValues: Long,
      compressedBytes: Long,
      uncompressedBytes: Long,
      nullCount: Long,
      minValue: String,
      maxValue: String)

  /** Spark's listing rule for one entry: a file or directory whose name
    * starts with `_` or `.` is not data (`_SUCCESS`, `_txn`, `_stats`,
    * `.crc` checksums), and neither is an empty file. */
  private[graft] def isData(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".") && (st.isDirectory || st.getLen > 0)
  }

  /** Whether `path` is a glob pattern rather than a path. */
  private[graft] def isGlob(path: String): Boolean = path.exists("*?[{".contains(_))

  /** The data files under `path` by [[isData]], at any depth — a
    * hive-partitioned dir's leaf files sit below `<col>=<val>/` — in
    * listing order. A file lists as itself, under the caller's spelling
    * of its path; a glob lists the data files under each match. A
    * [[Fs.listLocated]] walk (block locations on HDFS only), NOT
    * `FileSystem.listFiles(recursive)`: the latter materializes
    * LocatedFileStatus through RawLocal permission probes that throw on
    * local-backed wrapper schemes (HostileFsSpec). Throws on a missing
    * path. */
  private[graft] def dataFiles(path: String, conf: Configuration = Fs.conf()): Seq[FileStatus] = {
    val (fs, p) = Fs.fileSystem(path, conf)
    dataFilesOf(path,
      if (isGlob(path)) Option(fs.globStatus(p)).toSeq.flatten else Fs.listLocated(fs, p), conf)
  }

  /** [[dataFiles]] from `top`, the listing of `path` the caller already
    * holds: only the subdirectories of a hive-partitioned dir list again. */
  private[graft] def dataFilesOf(path: String, top: Seq[FileStatus],
      conf: Configuration): Seq[FileStatus] = {
    val (fs, p) = Fs.fileSystem(path, conf)
    // listing a FILE returns the file itself
    if (top.size == 1 && top.head.isFile && top.head.getPath == fs.makeQualified(p)) {
      top.head.setPath(p)
      top
    } else {
      def walk(st: FileStatus): Seq[FileStatus] =
        if (!isData(st)) Nil
        else if (st.isFile) Seq(st)
        else Fs.listLocated(fs, st.getPath).flatMap(walk)
      top.flatMap(walk)
    }
  }

  /** [[dataFiles]] of `path` as paths (the tools' and CLI's file list). */
  private[graft] def parquetFiles(spark: SparkSession, path: String): Seq[Path] =
    dataFiles(path, spark.sparkContext.hadoopConfiguration).map(_.getPath)

  /** The one footer open: `f` over a reader of `file`'s footer, closed
    * after. The listing's status opens without another status call. */
  private[graft] def withFooter[A](file: FileStatus, conf: Configuration)(
      f: ParquetFileReader => A): A =
    withFooter(HadoopInputFile.fromStatus(file, conf))(f)

  /** [[withFooter]] for a caller holding only the path (one status call). */
  private[graft] def withFooter[A](file: Path, conf: Configuration)(
      f: ParquetFileReader => A): A =
    withFooter(HadoopInputFile.fromPath(file, conf))(f)

  private def withFooter[A](in: HadoopInputFile)(f: ParquetFileReader => A): A = {
    val reader = ParquetFileReader.open(in)
    try f(reader) finally reader.close()
  }

  /** One row group's bloom verdict on `column == value`: None when the
    * chunk carries no bloom filter, or `value` has no hash in the chunk's
    * physical type. Hashed in the CHUNK's physical type, not the
    * literal's — parquet blooms hash plain-encoded physical values, so a
    * Long probe of an INT32 chunk hashed as a long would reject present
    * values. Numbers hash only as Java primitives, and a DECIMAL chunk
    * never hashes: it stores the unscaled value (4200 for 42.00), so a
    * decimal probe converted with `longValue` would reject present
    * values too. */
  private[graft] def bloomProbe(reader: ParquetFileReader, block: BlockMetaData,
      chunk: ColumnChunkMetaData, value: Any): Option[Boolean] =
    Option(reader.getBloomFilterDataReader(block).readBloomFilter(chunk)).flatMap { bf =>
      def primitive(v: Number) = v match {
        case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
            _: java.lang.Byte | _: java.lang.Double | _: java.lang.Float => true
        case _ => false
      }
      val decimal = chunk.getPrimitiveType.getLogicalTypeAnnotation
        .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
      ((chunk.getPrimitiveType.getPrimitiveTypeName, value) match {
        case _ if decimal => None
        case (PrimitiveTypeName.INT64, v: Number) if primitive(v)  => Some(bf.hash(v.longValue))
        case (PrimitiveTypeName.INT32, v: Number) if primitive(v)  => Some(bf.hash(v.intValue))
        case (PrimitiveTypeName.DOUBLE, v: Number) if primitive(v) => Some(bf.hash(v.doubleValue))
        case (PrimitiveTypeName.FLOAT, v: Number) if primitive(v)  => Some(bf.hash(v.floatValue))
        case (PrimitiveTypeName.BINARY, v: String) => Some(bf.hash(Binary.fromString(v)))
        case (PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY,
            v: Array[Byte]) => Some(bf.hash(Binary.fromConstantByteArray(v)))
        case _ => None
      }).map(bf.findHash)
    }

  /** The driver's one daemon pool: a commit's legs
    * ([[TxTable]]`.runLegs`) and driver-side footer and DV-sidecar reads
    * ([[onDriverPool]], the spill convergence test) overlap on it. Its
    * tasks never wait on each other and no pool thread submits to it,
    * so the fixed bound can only queue work, never deadlock; idle
    * threads time out. */
  private[graft] lazy val driverPool: java.util.concurrent.ExecutorService = {
    val pool = new java.util.concurrent.ThreadPoolExecutor(16, 16,
      60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-driver")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Runs `f` with the Spark job description `desc`, then restores the
    * caller's: every job `f` starts is named by the graft site that ran
    * it (a spill, a commit leg), not by Spark's internal call site. */
  private[graft] def withJobDescription[A](spark: SparkSession, desc: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try f finally sc.setJobDescription(prev)
  }

  /** `f` over `xs` on [[driverPool]]: overlapped driver-side reads, still
    * no Spark job — serially at object-store latency each is a
    * round-trip. Two or fewer run inline. */
  private[graft] def onDriverPool[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 2) xs.map(f)
    else xs.map(x => driverPool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = f(x)
    })).map(_.get())

  /** M2/M5: per-row-group footer metadata (the `num_row_groups()/num_rows` surface,
    * `reader-writer.cc:185-193`, and the row-group size invariant `reader-writer2.cc:222`). */
  def rowGroups(spark: SparkSession, path: String): Seq[RowGroupInfo] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(path, conf).flatMap { f =>
      withFooter(f, conf) { reader =>
        reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map { case (b, i) =>
          RowGroupInfo(f.getPath.toString, i, b.getRowCount, b.getTotalByteSize,
            b.getCompressedSize, b.getColumns.size())
        }
      }
    }
  }

  /** M2: per-column-chunk stats (types, codec, null counts, min/max). */
  def columnChunks(spark: SparkSession, path: String): Seq[ColumnChunkInfo] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(path, conf).flatMap { f =>
      withFooter(f, conf) { reader =>
        reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap { case (b, i) =>
          b.getColumns.asScala.toSeq.map { c =>
            val st = c.getStatistics
            ColumnChunkInfo(
              f.getPath.toString, i, c.getPath.toDotString,
              c.getPrimitiveType.getPrimitiveTypeName.name,
              c.getCodec.name, c.getValueCount, c.getTotalSize, c.getTotalUncompressedSize,
              if (st != null && st.isNumNullsSet) st.getNumNulls else -1L,
              if (st != null && st.hasNonNullValue) String.valueOf(st.genericGetMin) else "",
              if (st != null && st.hasNonNullValue) String.valueOf(st.genericGetMax) else "")
          }
        }
      }
    }
  }

  /**
   * Bloom-filter introspection for [[ParquetIO.writeWithBloomFilters]]:
   * per row group, does `column`'s bloom filter say `value` might be
   * present? Returns one `(file, rowGroup, mightContain)` row per row
   * group of every data file under `path` (hive partition dirs
   * included); `mightContain = None` when the chunk carries no bloom
   * filter, or `value` has no hash in the column's physical type. No
   * false negatives (a present value is always Some(true)): the probe
   * hashes in the chunk's physical type ([[bloomProbe]]), so a Long
   * probe of an int column and an Int probe of a long column both work.
   * Absent values prune wherever the bitset rejects. Footer + bloom
   * bitset reads only — never data pages — like the rest of this tools
   * surface. `value` may be a Long, Int, Double or Float for a numeric
   * column, a String for a string column, or an Array[Byte] for a
   * binary one; a decimal column answers None.
   */
  def bloomMightContain(spark: SparkSession, path: String, column: String,
      value: Any): Seq[(String, Int, Option[Boolean])] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(path, conf).flatMap { f =>
      withFooter(f, conf) { reader =>
        reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.map { case (b, i) =>
          val chunk = b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(sys.error(s"no column '$column' in ${f.getPath}"))
          (f.getPath.toString, i, bloomProbe(reader, b, chunk, value))
        }
      }
    }
  }

  /** M4 (read side): file key-value (user) metadata from the footer. */
  def keyValueMetadata(spark: SparkSession, path: String): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(path, conf).headOption.map { f =>
      withFooter(f, conf)(_.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)
    }.getOrElse(Map.empty)
  }

  /**
   * M4 (write side): attach user key-value metadata to a parquet file.
   * Spark's DataFrame writer exposes no footer-KV hook, so this goes one
   * level down to parquet-mr (the same library Spark writes with): row
   * groups are byte-copied via `ParquetFileWriter.appendFile` — no decode,
   * no re-encode, footer-only work, mirroring the reference's low-level
   * writer setting `key_value_metadata` at file close
   * (`cpp/examples/parquet/low-level-api/reader-writer.cc` builder setup).
   * Existing KV entries (including Spark's schema key) are preserved;
   * `extra` wins on conflict. Driver-side by design: it is a per-FILE
   * footer tool like the rest of [[Tools]], not a distributed operator.
   */
  def writeKeyValueMetadata(spark: SparkSession, srcFile: String, dstFile: String,
      extra: Map[String, String]): Unit =
    writeKeyValueMetadataFile(spark.sparkContext.hadoopConfiguration,
      srcFile, dstFile, extra)

  /** Configuration-based core of [[writeKeyValueMetadata]] — static so
    * the distributed [[stampKeyValueMetadata]] tasks call it without
    * capturing a SparkSession. */
  private[sources] def writeKeyValueMetadataFile(conf: Configuration,
      srcFile: String, dstFile: String, extra: Map[String, String]): Unit = {
    val in = HadoopInputFile.fromPath(new Path(srcFile), conf)
    val reader = ParquetFileReader.open(in)
    val (schema, existingKv) =
      try (reader.getFooter.getFileMetaData.getSchema,
        reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala.toMap)
      finally reader.close()
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(new Path(dstFile), conf), schema,
      ParquetFileWriter.Mode.OVERWRITE,
      128L * 1024 * 1024 /* row-group bytes — unused for byte-copied groups */,
      8 * 1024 * 1024 /* max padding */)
    // a failure mid-append must not leak the output stream or leave a
    // truncated dst behind (round-3 advisory)
    try {
      writer.start()
      writer.appendFile(in)
      writer.end((existingKv ++ extra).asJava)
    } catch {
      case e: Throwable =>
        val dst = new Path(dstFile)
        val fs = dst.getFileSystem(conf)
        try fs.delete(dst, false) catch { case _: java.io.IOException => () }
        throw e
    }
  }

  /**
   * M4 (write side), DISTRIBUTED (round 17): stamp user key-value
   * metadata onto EVERY data file of a table — the per-file byte-copy
   * append fanned across executors (file names preserved, write-new
   * into `dstDir`, never in-place — the object-store rule every layout
   * pass here follows). Row groups are byte-copied: footer-only CPU,
   * file-sized I/O paid once, the same cost class as any compaction
   * pass — so a 2·10⁵-file table stamps in one task wave per slot,
   * not a driver loop of 2·10⁵ round-trips. Existing KV entries
   * (including Spark's schema key) are preserved per file; `extra`
   * wins on conflict. Every data file under `srcDir` ([[dataFiles]],
   * hive partition dirs included) keeps its path relative to `srcDir`
   * below `dstDir`: one task writes the same file name into every
   * partition dir it touches. Returns the number of files stamped.
   */
  def stampKeyValueMetadata(spark: SparkSession, srcDir: String,
      dstDir: String, extra: Map[String, String]): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val (fs, src) = Fs.fileSystem(srcDir, hconf)
    val root = fs.makeQualified(src).toUri.getPath
    val files = dataFiles(srcDir, hconf).map { st =>
      val rel = fs.makeQualified(st.getPath).toUri.getPath.stripPrefix(root).stripPrefix("/")
      (st.getPath.toString, if (rel.isEmpty) st.getPath.getName else rel)
    }
    require(files.nonEmpty, s"stampKeyValueMetadata: no parquet files under $srcDir")
    val conf = new org.apache.spark.util.SerializableConfiguration(hconf)
    val dst = dstDir
    spark.createDataset(files)(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING))
      .repartition(math.min(files.size, 64))
      .map { case (f, rel) =>
        writeKeyValueMetadataFile(conf.value, f, s"$dst/$rel", extra)
        1L
      }(org.apache.spark.sql.Encoders.scalaLong)
      .reduce(_ + _)
  }

  /**
   * S11: read exactly ONE row group's data (the reference reads a single
   * row group's column data via `RowGroup(0)` readers,
   * `cpp/examples/parquet/parquet-arrow/src/reader-writer.cc:77-90`).
   * parquet-mr's `skipNextRowGroup()` advances over earlier groups
   * touching footers only — no data pages before the target group are
   * read or decoded. Records are assembled with the standard
   * ColumnIOFactory/RecordReader machinery and returned as a DataFrame
   * over the file's top-level primitive columns (the tool surface, like
   * the reference example's int/double/string columns). Driver-side by
   * design: a per-FILE repair/sampling tool like the rest of [[Tools]];
   * the distributed path for RG-targeted reads is predicate pushdown with
   * row-group stats pruning (PartitionPruningSpec / PLANS.md).
   */
  /**
   * S9: memory-mapped parquet input — the reference reader's `memory_map`
   * flag (`cpp/tools/parquet/parquet_reader.cc:35,64`). The file is mapped
   * once via FileChannel; every stream is a position-tracked view over the
   * shared MappedByteBuffer, so footer and page reads are zero-copy from
   * the page cache instead of read(2) into heap buffers. Driver-side
   * tools path only (like the reference's CLI): single-file, < 2 GB (the
   * JVM single-buffer mapping limit — a loud error, not a silent clamp).
   */
  private final class MmapInputFile(path: java.nio.file.Path)
      extends org.apache.parquet.io.InputFile {
    private val buf = {
      val ch = java.nio.channels.FileChannel.open(path, java.nio.file.StandardOpenOption.READ)
      try {
        require(ch.size() <= Int.MaxValue,
          s"mmap tools path supports files < 2 GiB, got ${ch.size()} bytes: $path")
        ch.map(java.nio.channels.FileChannel.MapMode.READ_ONLY, 0, ch.size())
      } finally ch.close()
    }
    override def getLength: Long = buf.capacity().toLong
    override def newStream(): org.apache.parquet.io.SeekableInputStream =
      new org.apache.parquet.io.SeekableInputStream {
        private val b = buf.duplicate()
        override def getPos: Long = b.position().toLong
        override def seek(newPos: Long): Unit = b.position(newPos.toInt)
        override def read(): Int = if (!b.hasRemaining) -1 else b.get() & 0xff
        override def read(bytes: Array[Byte], off: Int, len: Int): Int = {
          if (len == 0) 0
          else if (!b.hasRemaining) -1
          else { val n = math.min(len, b.remaining()); b.get(bytes, off, n); n }
        }
        override def readFully(bytes: Array[Byte]): Unit = b.get(bytes)
        override def readFully(bytes: Array[Byte], start: Int, len: Int): Unit =
          b.get(bytes, start, len)
        override def read(out: java.nio.ByteBuffer): Int = {
          if (!b.hasRemaining) return -1
          val n = math.min(out.remaining(), b.remaining())
          val view = b.duplicate(); view.limit(view.position() + n)
          out.put(view); b.position(b.position() + n); n
        }
        override def readFully(out: java.nio.ByteBuffer): Unit = {
          val n = out.remaining()
          require(b.remaining() >= n, s"EOF: need $n, have ${b.remaining()}")
          read(out); ()
        }
      }
  }

  /** Open a footer+pages reader over either the Hadoop stream path or the
    * S9 memory-mapped path — the reference's `memory_map` toggle. */
  private def openReader(file: String, conf: Configuration,
      mmap: Boolean): ParquetFileReader =
    if (!mmap) ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
    else {
      val local = java.nio.file.Paths.get(new Path(file).toUri.getPath)
      ParquetFileReader.open(new MmapInputFile(local))
    }

  def readRowGroup(spark: SparkSession, file: String, rowGroup: Int,
      mmap: Boolean = false): DataFrame = {
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = openReader(file, conf, mmap)
    try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      val nGroups = reader.getFooter.getBlocks.size()
      require(rowGroup >= 0 && rowGroup < nGroups,
        s"row group $rowGroup out of range [0, $nGroups)")
      (0 until rowGroup).foreach(_ => reader.skipNextRowGroup())
      val pages = reader.readNextRowGroup()
      val columnIO = new ColumnIOFactory().getColumnIO(schema)
      val recordReader = columnIO.getRecordReader(pages, new GroupRecordConverter(schema))
      val fields = schema.getFields.asScala.toSeq
      def isString(t: org.apache.parquet.schema.Type) =
        t.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
      val sparkFields = fields.map { f =>
        require(f.isPrimitive, s"readRowGroup supports primitive top-level columns; got $f")
        val dt = f.asPrimitiveType().getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 => LongType
          case PrimitiveTypeName.INT32 => IntegerType
          case PrimitiveTypeName.DOUBLE => DoubleType
          case PrimitiveTypeName.FLOAT => FloatType
          case PrimitiveTypeName.BOOLEAN => BooleanType
          case PrimitiveTypeName.BINARY => if (isString(f)) StringType else BinaryType
          case other => throw new IllegalArgumentException(s"unsupported type $other")
        }
        StructField(f.getName, dt, nullable = true)
      }
      val rows = (0L until pages.getRowCount).map { _ =>
        val g = recordReader.read()
        Row.fromSeq(fields.zipWithIndex.map { case (f, i) =>
          if (g.getFieldRepetitionCount(i) == 0) null
          else f.asPrimitiveType().getPrimitiveTypeName match {
            case PrimitiveTypeName.INT64 => g.getLong(i, 0)
            case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
            case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
            case PrimitiveTypeName.FLOAT => g.getFloat(i, 0)
            case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
            case PrimitiveTypeName.BINARY =>
              if (isString(f)) g.getString(i, 0) else g.getBinary(i, 0).getBytes
            case other => throw new IllegalArgumentException(s"unsupported type $other")
          }
        })
      }
      spark.createDataFrame(rows.asJava, StructType(sparkFields))
    } finally reader.close()
  }

  final case class ValueLevel(column: String, rowGroup: Int, rep: Int, defLevel: Int, value: String)

  /**
   * Value-level debug dump WITH definition/repetition levels — parity with
   * the reference's per-value scan loop printing `value, def, rep` for
   * every column (`cpp/tools/parquet/parquet_reader.cc:66-72`, via each
   * column's `ScanAllValues`). Spark's row-level surface cannot show
   * levels (they are assembled away), so this drives parquet-mr's
   * ColumnReader directly: per column chunk, every (rep, def) pair is
   * emitted, with the value decoded only when def == maxDef (else the
   * slot is a null at some nesting level, exactly like the reference's
   * `is_null` branch). Driver-side per-FILE debug tool like the rest of
   * [[Tools]]; `maxPerColumn` caps output per column chunk.
   */
  def valueLevels(spark: SparkSession, file: String,
      maxPerColumn: Long = Long.MaxValue, mmap: Boolean = false): Seq[ValueLevel] = {
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    // trivial converter tree: ColumnReadStoreImpl only needs it to locate
    // a PrimitiveConverter per column (dictionary support hook)
    class NoopPrimitive extends PrimitiveConverter {
      override def asGroupConverter(): GroupConverter = new NoopGroup
    }
    class NoopGroup extends GroupConverter {
      override def getConverter(fieldIndex: Int): Converter = new NoopPrimitive
      override def start(): Unit = ()
      override def end(): Unit = ()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = openReader(file, conf, mmap)
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema = meta.getSchema
      val out = Seq.newBuilder[ValueLevel]
      var rg = 0
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val crs = new ColumnReadStoreImpl(pages, new NoopGroup, schema, meta.getCreatedBy)
        schema.getColumns.asScala.foreach { cd =>
          val cr = crs.getColumnReader(cd)
          val name = cd.getPath.mkString(".")
          val maxDef = cd.getMaxDefinitionLevel
          val tpe = cd.getPrimitiveType.getPrimitiveTypeName
          val n = math.min(cr.getTotalValueCount, maxPerColumn)
          (0L until n).foreach { _ =>
            val rep = cr.getCurrentRepetitionLevel
            val defl = cr.getCurrentDefinitionLevel
            val v =
              if (defl < maxDef) "NULL"
              else tpe match {
                case PrimitiveTypeName.INT64 => cr.getLong.toString
                case PrimitiveTypeName.INT32 => cr.getInteger.toString
                case PrimitiveTypeName.DOUBLE => cr.getDouble.toString
                case PrimitiveTypeName.FLOAT => cr.getFloat.toString
                case PrimitiveTypeName.BOOLEAN => cr.getBoolean.toString
                case PrimitiveTypeName.INT96 => s"0x${cr.getBinary.getBytes.map("%02x".format(_)).mkString}"
                case PrimitiveTypeName.BINARY | PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY =>
                  val b = cr.getBinary
                  cd.getPrimitiveType.getLogicalTypeAnnotation match {
                    case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => b.toStringUsingUTF8
                    case _ => s"0x${b.getBytes.map("%02x".format(_)).mkString}"
                  }
              }
            out += ValueLevel(name, rg, rep, defl, v)
            cr.consume()
          }
        }
        rg += 1
        pages = reader.readNextRowGroup()
      }
      out.result()
    } finally reader.close()
  }

  /** Metadata DataFrames, so introspection itself is queryable. */
  def rowGroupsDf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    rowGroups(spark, path).toDF()
  }

  def columnChunksDf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    columnChunks(spark, path).toDF()
  }

  /** P2+A1: the `parquet-scan` tool — timed, column-projected full scan
    * returning (rows, seconds). The requested columns (all when empty)
    * are materialized into the noop sink, and the row count comes from
    * an `Observation` on the same pass: a `count()` would let Catalyst
    * prune every column, timing the same work for any projection.
    * `batchSize` is the vectorized reader's `columnarReaderBatchSize`,
    * the `--batch-size` knob of `cpp/tools/parquet/parquet-scan.cc:35`.
    * The knob is a session conf in Spark (the vectorized reader has no
    * per-read option), so it is set for the scan and restored after. */
  def timedScan(spark: SparkSession, path: String, columns: Seq[String] = Nil,
      batchSize: Option[Int] = None): (Long, Double) = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val key = "spark.sql.parquet.columnarReaderBatchSize"
    val prev = spark.conf.getOption(key)
    batchSize.foreach(b => spark.conf.set(key, b.toString))
    try {
      val df0 = spark.read.parquet(path)
      val df = if (columns.nonEmpty) df0.select(columns.map(col): _*) else df0
      val rows = org.apache.spark.sql.Observation("timed_scan")
      val t0 = System.nanoTime()
      df.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      (rows.get("n").asInstanceOf[Long], secs)
    } finally if (batchSize.isDefined) {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }
}
