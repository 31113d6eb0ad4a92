package graft.sources

import graft.plans.{DvAlive, GraftExtensions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}

/**
 * Deletion-vector (DV) bitmap primitives behind [[TxTable]]'s
 * merge-on-read deletes (round 16).
 *
 * Copy-on-write answers a delete by rewriting every file that holds a
 * dead row; a 100 TB table asked to drop 0.1 % of its rows (a GDPR
 * erasure batch, a spam sweep, a bad crawl day) should not pay that.
 * The lakehouse answer (Delta deletion vectors, Iceberg positional
 * delete files) is to record WHICH rows of WHICH files are dead in a
 * tiny sidecar, apply it at scan time, and fold it into a physical
 * rewrite only when the dead fraction justifies one
 * ([[TxTable.checkpoint]], [[TxTable.compactFiles]]).
 *
 * Representation: one row per data file holding a sparse 64-bit-word
 * bitmap — `map<word_index, or-mask>` over the file's parquet row
 * indexes (`_metadata.row_index`, the reader-provided physical row
 * position Spark exposes for parquet scans). Sparse because deletes
 * cluster: a file with d dead rows costs ≤ d map entries, never
 * rows-per-file bits. The bitmap is BUILT distributively — word =
 * index / 64 is a second grouping key, so the heaviest shuffle row is a
 * single (file, word, mask) triple, regardless of how many rows die in
 * one file; the per-file map assembly aggregates ≤ rows/64 entries.
 *
 * The sidecars are READ on the driver: a snapshot's sidecar files are
 * opened with parquet-mr ([[readSidecar]]) and OR-folded into a
 * file → bitmap hash [[Index]] ([[fold]]), bounded by dead-rows/64
 * words. The index rides the scan as the literal of one codegen'd
 * predicate, `graft_dv_alive(_metadata.file_path, _metadata.row_index,
 * index)` ([[graft.plans.DvAlive]]): a hash probe per file change and a
 * binary search per row, in the scan's own stage — no sidecar job, no
 * exchange, no join.
 *
 * Where the sidecars live, and when they count, is [[TxTable]]'s
 * commit protocol: each commit writes its vectors under
 * `_txn/dv/<k>`, and a read OR-folds the sidecars of the commits it
 * resolves, so overlapping deletes compose by bitmap OR and a later
 * commit's vectors vanish with its marker.
 */
object DeleteVectors {

  /** The on-disk sidecar schema [[buildVectors]] writes: one row per
    * data file — its `_metadata.file_path`, its word → mask bitmap and
    * its kill count. */
  private[sources] val SidecarSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("dv", MapType(LongType, LongType)),
    StructField("n_deleted", LongType)))
  private val Seq(filePath, dvCol, nDeleted) = SidecarSchema.fieldNames.toSeq

  /** `scan` with physical row identity attached — every DV operation
    * hangs off these two metadata columns, taken per file scan. */
  private[sources] def withRowId(scan: DataFrame): DataFrame =
    scan.select(col("*"),
      col("_metadata.file_path").as("__dv_file"),
      col("_metadata.row_index").as("__dv_row"))

  /** One sidecar row as read on the driver: the data file, its
    * (word, mask) pairs and its kill count. */
  private[sources] final case class FileVector(file: String,
      dv: Seq[(Long, Long)], nDeleted: Long)

  /** The OR-fold of a snapshot's sidecars: file → [[DvAlive.Bitmap]]. */
  private[sources] final class Index(val bitmaps: Map[String, DvAlive.Bitmap]) {
    def isEmpty: Boolean = bitmaps.isEmpty
    /** Dead rows per file — the popcount of its masks. */
    def deadPerFile: Map[String, Long] = bitmaps.map { case (f, b) =>
      f -> b.masks.map(java.lang.Long.bitCount(_).toLong).sum
    }
    /** True for the rows of `base` (row-identified) the index keeps. */
    def alive(base: DataFrame): Column =
      GraftExtensions.graftDvAlive(base.sparkSession, base("__dv_file"),
        base("__dv_row"), DvAlive.encode(bitmaps.toSeq.sortBy(_._1)))
  }

  /** Read one sidecar file on the driver (parquet-mr, no Spark job). */
  private[sources] def readSidecar(file: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Seq[FileVector] = {
    import org.apache.parquet.example.data.Group
    // opened from the listing's status: one open, no status call
    val reader = new org.apache.parquet.hadoop.ParquetReader.Builder[Group](
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, conf)) {
      override protected def getReadSupport() =
        new org.apache.parquet.hadoop.example.GroupReadSupport()
    }.withConf(conf).build()
    def longOr0(g: Group, field: Int): Long =
      if (g.getFieldRepetitionCount(field) > 0) g.getLong(field, 0) else 0L
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      val m = if (g.getFieldRepetitionCount(dvCol) > 0) Some(g.getGroup(dvCol, 0)) else None
      val dv = m.toSeq.flatMap(m => (0 until m.getFieldRepetitionCount(0)).map { i =>
        val kv = m.getGroup(0, i)
        (kv.getLong(0, 0), longOr0(kv, 1))
      })
      FileVector(g.getString(filePath, 0), dv,
        longOr0(g, g.getType.getFieldIndex(nDeleted)))
    }.toVector
    finally reader.close()
  }

  /** OR-fold sidecar rows into one [[Index]]: overlapping deletes
    * compose, and a row dead in any vector is dead. */
  private[sources] def fold(vectors: Iterable[FileVector]): Index = {
    val acc = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.LongMap[Long]]
    vectors.foreach { v =>
      val m = acc.getOrElseUpdate(v.file, scala.collection.mutable.LongMap.empty[Long])
      v.dv.foreach { case (w, mask) => m(w) = m.getOrElse(w, 0L) | mask }
    }
    new Index(acc.map { case (f, m) =>
      val words = m.keys.toArray.sorted
      f -> new DvAlive.Bitmap(words, words.map(m))
    }.toMap)
  }

  /** Apply a folded index to a row-identified scan as the in-scan
    * `graft_dv_alive` filter. Identity columns kept for callers that
    * still need them; an empty index leaves the bare scan. */
  private[sources] def applyVectorsKeepId(base: DataFrame, index: Index): DataFrame =
    if (index.isEmpty) base else base.filter(index.alive(base))

  /** [[applyVectorsKeepId]] with the row identity dropped — the
    * reader-facing shape. */
  private[sources] def applyVectors(base: DataFrame, index: Index): DataFrame =
    applyVectorsKeepId(base, index).drop("__dv_file", "__dv_row")

  /** The rows each commit's vectors KILL, labelled with their commit in
    * column `commitCol` — a row emits once per commit whose bit kills
    * it, which is what the change feed diffs per commit, so these
    * vectors are not OR-folded. The inverse of [[applyVectors]]; the
    * caller bounds the scan to the files the vectors reference. A
    * broadcast hash join on (file, word = row/64) against the vectors as
    * a local relation, then the bit test. */
  private[sources] def killedRowsByCommit(base: DataFrame,
      vectors: Seq[(Long, FileVector)], commitCol: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = vectors.flatMap { case (k, v) =>
      v.dv.map { case (w, m) => org.apache.spark.sql.Row(k, v.file, w, m) }
    }
    val dv = base.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField(commitCol, LongType), StructField("__dv_fp", StringType),
      StructField("__dv_word", LongType), StructField("__dv_mask", LongType))))
    base.join(broadcast(dv),
      base("__dv_file") === dv("__dv_fp") &&
        shiftright(base("__dv_row"), 6) === dv("__dv_word"))
      .filter(isDeleted(col("__dv_mask"), col("__dv_row")))
      .drop("__dv_fp", "__dv_word", "__dv_mask", "__dv_file", "__dv_row")
  }

  /** Distributed bitmap assembly from (file_path, ri) hit rows —
    * (file, word = ri/64) first so no single aggregation row ever holds
    * more than one 64-bit mask, then the per-file map. Output schema is
    * [[SidecarSchema]]. */
  private[sources] def buildVectors(hits: DataFrame): DataFrame =
    hits
      .groupBy(col(filePath), shiftright(col("ri"), 6).as("word"))
      .agg(bit_or(shiftleftDyn(lit(1L), col("ri") % 64)).as("mask"),
        count(lit(1)).as("n"))
      .groupBy(filePath)
      .agg(map_from_entries(collect_list(struct(col("word"), col("mask"))))
        .as(dvCol),
        sum(col("n")).as(nDeleted))

  /** Is the row at (`rowCol`) dead under the joined word-mask column?
    * Pure builtin arithmetic; the word-alignment (mask is FOR rowCol's
    * word) is [[killedRowsByCommit]]'s join condition. */
  private def isDeleted(maskCol: Column, rowCol: Column): Column =
    // shiftleft/right with a column amount has no functions-API
    // overload; the Catalyst node accepts expressions, so go through
    // the SQL-function form of the shift
    shiftright(coalesce(maskCol, lit(0L)), (rowCol % 64).cast("int"))
      .bitwiseAND(lit(1L)) === lit(1L)

  // functions.shiftright(Column, Int) can't take a column amount either;
  // build the dynamic-shift via the SQL function which can
  private def shiftright(c: Column, bits: Column): Column =
    call_function("shiftright", c, bits.cast("int"))
  private def shiftright(c: Column, bits: Int): Column =
    org.apache.spark.sql.functions.shiftright(c, bits)
  private def shiftleftDyn(c: Column, bits: Column): Column =
    call_function("shiftleft", c, bits.cast("int"))
}
