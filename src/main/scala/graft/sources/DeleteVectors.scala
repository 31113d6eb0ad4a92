package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
 * Scan-time application is a broadcast HASH join on (file path,
 * word = row_index/64) + an O(1) bit test (shift, mask — codegen'd
 * builtins; no UDF touches the 100 TB side). The on-disk map explodes
 * to (file, word, mask) ROWS at fold time precisely so the probe is a
 * hash lookup: Spark's map `element_at` is a LINEAR scan of the map,
 * which degrades with kills-per-file (measured 0.8 s → 31.9 s on a
 * 2-file/15 k-kill layout — SCALE.md round-16 txtable). The DV
 * relation is bounded by dead-rows/64, which is exactly the shape
 * `broadcast()` is for. Rows whose (file, word) carries no vector row
 * pass through the join null-armed and are kept.
 *
 * Where the sidecars live, and when they count, is [[TxTable]]'s
 * commit protocol: each commit writes its vectors under
 * `_txn/dv/<k>`, and a read OR-folds the dirs of the commits it
 * resolves ([[foldDvDirs]]), so overlapping deletes compose by bitmap
 * OR and a later commit's vectors vanish with its marker.
 */
object DeleteVectors {

  /** The scan with physical row identity attached — every DV operation
    * hangs off these two metadata columns. */
  private[sources] def scanWithRowId(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    scanWithRowId(spark, paths, None)

  /** `basePath` variant: an explicit FILE list below a hive-partitioned
    * root keeps its partition columns (Spark recovers them from the
    * directory names relative to `basePath`) — [[TxTable]]'s skipping
    * reads over partitioned commit dirs. */
  private[sources] def scanWithRowId(spark: SparkSession,
      paths: Seq[String], basePath: Option[String]): DataFrame = {
    val rd = basePath.foldLeft(spark.read)((r, b) => r.option("basePath", b))
    rd.parquet(paths: _*)
      .select(col("*"),
        col("_metadata.file_path").as("__dv_file"),
        col("_metadata.row_index").as("__dv_row"))
  }

  /** Apply a folded DV relation to a row-identified scan: broadcast
    * HASH join on (file, word = row/64) — an O(1) probe per scanned
    * row, never a per-file map scan — then the bit test. Identity
    * columns kept for callers that still need them. */
  private[sources] def applyVectorsKeepId(base: DataFrame,
      dv: DataFrame): DataFrame =
    base.join(broadcast(dv),
      base("__dv_file") === dv("__dv_fp") &&
        shiftright(base("__dv_row"), 6) === dv("__dv_word"), "left")
      .filter(!isDeleted(col("__dv_mask"), col("__dv_row")))
      .drop("__dv_fp", "__dv_word", "__dv_mask")

  /** [[applyVectorsKeepId]] with the row identity dropped — the
    * reader-facing shape. */
  private[sources] def applyVectors(base: DataFrame, dv: DataFrame): DataFrame =
    applyVectorsKeepId(base, dv).drop("__dv_file", "__dv_row")

  /** The rows a DV relation KILLS — the inverse of [[applyVectors]]:
    * inner broadcast join on (file, word) + a positive bit test, so the
    * scan is bounded by the files the vectors reference. Feeds
    * [[TxTable.changeFeed]]'s per-commit kill resolution. */
  private[sources] def killedRows(base: DataFrame, dv: DataFrame): DataFrame =
    base.join(broadcast(dv),
      base("__dv_file") === dv("__dv_fp") &&
        shiftright(base("__dv_row"), 6) === dv("__dv_word"))
      .filter(isDeleted(col("__dv_mask"), col("__dv_row")))
      .drop("__dv_fp", "__dv_word", "__dv_mask", "__dv_file", "__dv_row")

  /** Distributed bitmap assembly from (file_path, ri) hit rows —
    * (file, word = ri/64) first so no single aggregation row ever holds
    * more than one 64-bit mask, then the per-file map. Output schema is
    * the sidecar schema every fold reads: (file_path, dv, n_deleted). */
  private[sources] def buildVectors(hits: DataFrame): DataFrame =
    hits
      .groupBy(col("file_path"), shiftright(col("ri"), 6).as("word"))
      .agg(bit_or(shiftleftDyn(lit(1L), col("ri") % 64)).as("mask"),
        count(lit(1)).as("n"))
      .groupBy("file_path")
      .agg(map_from_entries(collect_list(struct(col("word"), col("mask"))))
        .as("dv"),
        sum(col("n")).as("n_deleted"))

  /** OR-fold arbitrary DV sidecar dirs (each written by
    * [[buildVectors]]'s shape) into (file, word, mask) ROWS — the
    * `_txn/dv/<k>` dirs of the commits a [[TxTable]] read resolves.
    * Rows, not per-file maps, deliberately:
    * application is then a broadcast HASH join on (file, word) — O(1)
    * per scanned row — where a per-file `map<word, mask>` probe is a
    * LINEAR scan of the map under Spark's `element_at` and degrades
    * with kills-per-file (measured: a post-checkpoint read over 2
    * files carrying 15 k kills each went 0.8 s → 31.9 s on the map
    * representation — SCALE.md round-16 txtable). */
  private[sources] def foldDvDirs(spark: SparkSession,
      dirs: Seq[String]): DataFrame = {
    if (dirs.isEmpty) {
      // a LocalRelation-backed empty, NOT an emptyRDD one (round 22):
      // an RDD-backed empty is opaque to the optimizer, so every
      // DV-less snapshot read kept the left join AND paid a broadcast
      // build of a zero-row relation — one wasted stage job per read.
      // A LocalRelation empty lets PropagateEmptyRelation delete the
      // join from the plan: a table with no deletion vectors reads as
      // a bare scan.
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("__dv_fp",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("__dv_word",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("__dv_mask",
            org.apache.spark.sql.types.LongType))))
    } else {
      spark.read.parquet(dirs: _*)
        .select(col("file_path"), explode(col("dv")).as(Seq("word", "mask")))
        .groupBy("file_path", "word")
        .agg(bit_or(col("mask")).as("__dv_mask"))
        .withColumnRenamed("file_path", "__dv_fp")
        .withColumnRenamed("word", "__dv_word")
    }
  }

  /** Is the row at (`rowCol`) dead under the joined word-mask column?
    * Pure builtin arithmetic — O(1) per row, codegen'd, null-safe for
    * rows whose (file, word) has no vector row (left-join miss ⇒ mask
    * null ⇒ alive). The word-alignment (mask is FOR rowCol's word) is
    * the join condition's job — see [[applyVectors]]. */
  private[sources] def isDeleted(maskCol: Column, rowCol: Column): Column =
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
