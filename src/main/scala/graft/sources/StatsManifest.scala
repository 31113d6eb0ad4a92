package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._

/**
 * File-level statistics manifest + scan-time file skipping (round 16).
 *
 * Parquet footers already carry per-row-group min/max, and Spark's
 * reader uses them — but only AFTER opening every file: at 100 TB /
 * ~2·10⁵ files, a selective query still pays 2·10⁵ footer GETs (and on
 * an object store, 2·10⁵ round-trips) to discover that 99 % of files
 * can't match. The lakehouse answer (Iceberg manifests, Delta
 * file-skipping stats) is to hoist the per-FILE min/max into one tiny
 * table written once at layout time, so planning reads ONE small
 * parquet instead of every footer. This composes directly with
 * [[ParquetIO.compactSorted]] / [[ParquetIO.compactZOrder]]: those make
 * per-file ranges tight and disjoint (each z-ordered file is a small
 * hyper-rectangle), which is precisely what makes file-level pruning
 * bite on ANY clustered key — layout produces the locality, the
 * manifest makes it reachable without touching the files.
 *
 * [[build]] is metadata-only and distributed: the file list fans out
 * over executors, each task reads only footers (no data pages) and
 * folds row-group stats into per-(file, column) rows. Stats are kept in
 * their native comparison domain — a long leg for integer/date/
 * timestamp physicals, a double leg for floats, a string leg for UTF-8
 * binary — because min/max pruning is only sound under the SAME
 * ordering the writer used; anything else (int96, FLBA decimals,
 * unannotated binary) records null stats and is conservatively kept by
 * every prune. Truncated/absent footer statistics likewise degrade to
 * "keep", never to a wrong skip.
 *
 * [[prune]] evaluates interval overlap for a range predicate against
 * the manifest IN Spark and collects only the surviving paths — the
 * same driver-resident file list every DataSource scan already holds,
 * bounded by file count, not data. [[readSkipping]] then scans just
 * those files (the row-group/footer machinery still applies below the
 * file cut, and the caller's filter still runs — skipping is an
 * optimization, correctness never depends on it).
 */
object StatsManifest {

  private def manifestDir(table: String) = s"$table/_stats"
  private def manifestPath(table: String) = s"${manifestDir(table)}/manifest"

  /** One (file, column) stats row. Null min/max legs = "no usable
    * stats" = never pruned on this column. */
  final case class ColStats(
      file: String,
      column: String,
      physType: String,
      rowCount: Long,
      nullCount: Long,
      minLong: Option[Long], maxLong: Option[Long],
      minDouble: Option[Double], maxDouble: Option[Double],
      minStr: Option[String], maxStr: Option[String])

  /** a <ᵤₜ𝒻₈ b under unsigned byte order (Spark's string comparison). */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Footer → per-file stats rows (executor-side; static module call so
    * closures don't capture the object graph). */
  private[sources] def fileStats(path: String, conf: Configuration,
      cols: Set[String]): Seq[ColStats] =
    Tools.withFooter(new org.apache.hadoop.fs.Path(path), conf) { reader =>
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      blocks.flatMap(_.getColumns.asScala)
        .filter(c => cols.isEmpty || cols.contains(c.getPath.toDotString))
        .groupBy(_.getPath.toDotString)
        .map { case (name, chunks) =>
          val phys = chunks.head.getPrimitiveType.getPrimitiveTypeName
          val logical = chunks.head.getPrimitiveType.getLogicalTypeAnnotation
          val stats = chunks.map(_.getStatistics)
          val usable = stats.forall(s => s != null && s.hasNonNullValue)
          val nulls = stats.map(s =>
            if (s != null && s.isNumNullsSet) s.getNumNulls else 0L).sum
          def longLeg: (Option[Long], Option[Long]) =
            if (!usable) (None, None)
            else (Some(stats.map(_.genericGetMin.toString.toLong).min),
              Some(stats.map(_.genericGetMax.toString.toLong).max))
          def dblLeg: (Option[Double], Option[Double]) =
            if (!usable) (None, None)
            else (Some(stats.map(_.genericGetMin.toString.toDouble).min),
              Some(stats.map(_.genericGetMax.toString.toDouble).max))
          def strLeg: (Option[String], Option[String]) = {
            def utf8(v: Any): String =
              v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
            // fold across chunks under UNSIGNED BYTE order — the order
            // parquet chose the per-chunk min/max by, and the order
            // Spark's UTF8String comparison prunes by; Java's UTF-16
            // String order disagrees past ASCII (the Bpe.utf8Lt trap)
            if (!usable) (None, None)
            else (Some(stats.map(s => utf8(s.genericGetMin)).reduce(
                (a, b) => if (utf8Lt(a, b)) a else b)),
              Some(stats.map(s => utf8(s.genericGetMax)).reduce(
                (a, b) => if (utf8Lt(a, b)) b else a)))
          }
          val isUtf8 = logical != null &&
            logical.isInstanceOf[org.apache.parquet.schema
              .LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          val isDecimal = logical != null &&
            logical.isInstanceOf[org.apache.parquet.schema
              .LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          val (lo, hi, dlo, dhi, slo, shi) = phys match {
            // decimal-annotated ints order by unscaled value — the SAME
            // order as the decimal, but the caller's literal is scaled;
            // stay conservative rather than guess the scale here
            case _ if isDecimal => (None, None, None, None, None, None)
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
              val (a, b) = longLeg; (a, b, None, None, None, None)
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
              val (a, b) = dblLeg; (None, None, a, b, None, None)
            case PrimitiveTypeName.BINARY if isUtf8 =>
              val (a, b) = strLeg; (None, None, None, None, a, b)
            case _ => (None, None, None, None, None, None)
          }
          ColStats(path, name, phys.name, rows, nulls, lo, hi, dlo, dhi, slo, shi)
        }.toSeq
    }

  /** The distributed footer pass: files fan out, each task reads only
    * footers and emits (file, column) stats rows. Shared with
    * [[TxTable.buildManifest]], whose manifest covers the commit log's
    * resolution set rather than a directory listing. */
  private[sources] def statsFor(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): DataFrame = {
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val colSet = cols.toSet
    spark.createDataset(files)(org.apache.spark.sql.Encoders.STRING)
      .repartition(math.min(files.size, 64))
      .mapPartitions { it =>
        val c = conf.value
        it.flatMap(f => fileStats(f, c, colSet))
      }(org.apache.spark.sql.Encoders.product[ColStats])
      .toDF()
  }

  /**
   * Build (or rebuild) the manifest for `table`: one row per
   * (data file, column). Footer reads only — cost is proportional to
   * file COUNT, and the files fan out across the cluster (at 2·10⁵
   * files and 32 slots that's ~6 k footers per task wave, all metadata
   * I/O). `cols` empty = all leaf columns. Returns the manifest.
   */
  def build(spark: SparkSession, table: String,
      cols: Seq[String] = Seq.empty): DataFrame = {
    val files = Tools.dataFiles(table).map(_.getPath.toString)
    require(files.nonEmpty, s"statsManifest: no parquet data files under $table")
    statsFor(spark, files, cols)
      .write.mode("overwrite").parquet(manifestPath(table))
    spark.read.parquet(manifestPath(table))
  }

  /**
   * Incremental maintenance: bring the manifest up to date after
   * appends/compactions WITHOUT re-reading footers the manifest already
   * covers. New files get the same distributed footer pass as [[build]]
   * (cost ∝ files ADDED — an hourly ingest of 500 files restats 500
   * footers, not 2·10⁵); rows for files that no longer exist are
   * dropped (a compaction retires its inputs' rows for free). The
   * rewrite goes through a temp dir because the new manifest is
   * derived from the old one (Spark refuses an overwrite of a path
   * it is reading — the repo's own upsert lesson), and the manifest
   * is KBs-to-MBs so the double write is noise. No-op (beyond the
   * listing) when nothing changed. First call without a manifest
   * degrades to [[build]].
   */
  def refresh(spark: SparkSession, table: String,
      cols: Seq[String] = Seq.empty): DataFrame = {
    if (!Fs.isDirectory(manifestPath(table))) return build(spark, table, cols)
    val current = Tools.dataFiles(table).map(_.getPath.toString)
    require(current.nonEmpty, s"statsManifest: no parquet data files under $table")
    val m = spark.read.parquet(manifestPath(table))
    val known = m.select("file").distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSet
    val added = current.filterNot(known)
    val removed = known -- current.toSet
    if (added.isEmpty && removed.isEmpty) return m
    val currentDf = spark.createDataset(current)(
      org.apache.spark.sql.Encoders.STRING).toDF("file")
    val kept = m.join(currentDf, Seq("file"), "left_semi")
    val next =
      if (added.isEmpty) kept
      else kept.unionByName(statsFor(spark, added, cols))
    val tmp = s"${manifestDir(table)}/manifest_tmp"
    next.write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(manifestPath(table))
    Fs.deleteRecursive(new org.apache.hadoop.fs.Path(tmp))
    spark.read.parquet(manifestPath(table))
  }

  /** The persisted manifest (throws if [[build]] never ran). */
  def manifest(spark: SparkSession, table: String): DataFrame = {
    require(Fs.isDirectory(manifestPath(table)),
      s"statsManifest: no manifest under $table — run StatsManifest.build first")
    spark.read.parquet(manifestPath(table))
  }

  /**
   * Files that can contain rows with `column` in [lo, hi] — interval
   * overlap against the manifest, evaluated in Spark; only the
   * surviving PATHS are collected (bounded by file count — the same
   * driver-side listing any scan performs). A file with no usable
   * stats row for the column is kept. Literal type picks the stats
   * leg: integral → long, fractional → double, string → string.
   */
  /** Files a manifest PROVABLY excludes for `column` ∈ [lo, hi]: the
    * stats row exists, has usable bounds, and the interval misses.
    * Everything else — absent rows, null legs, unknown files — is NOT
    * in this set, so callers subtracting it keep them (the
    * conservative direction). Bounded by file count. */
  private[sources] def excludedFiles(m: DataFrame, column: String,
      lo: Any, hi: Any): Set[String] = {
    val (minC, maxC) = (lo, hi) match {
      case (_: Long, _) | (_: Int, _) => (col("minLong"), col("maxLong"))
      case (_: Double, _) | (_: Float, _) => (col("minDouble"), col("maxDouble"))
      case (_: String, _) => (col("minStr"), col("maxStr"))
      case _ => throw new IllegalArgumentException(
        s"statsManifest: unsupported literal type ${lo.getClass}")
    }
    m.filter(col("column") === column)
      .filter(minC.isNotNull && maxC.isNotNull)
      .filter(maxC < lit(lo) || minC > lit(hi))
      .select("file").distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
  }

  def prune(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any): Seq[String] = {
    val m = manifest(spark, table)
    val excluded = excludedFiles(m, column, lo, hi)
    // the file UNIVERSE is the directory listing, never the manifest's
    // own file list (round 17): files appended after the last
    // build/refresh have no manifest row, are not in the excluded set,
    // and are therefore KEPT — a stale manifest costs performance,
    // never rows (the TxTable.readSkipping rule, applied here too)
    Tools.dataFiles(table).map(_.getPath.toString).filterNot(excluded).sorted
  }

  /** A scan of some of `table`'s data files with `table`'s own schema:
    * `table` is the base path, so a hive-partitioned table's partition
    * columns are still inferred from the leaf files' `<col>=<val>/`
    * dirs. */
  private def readFiles(spark: SparkSession, table: String,
      files: Seq[String]): DataFrame =
    spark.read.option("basePath", table).parquet(files: _*)

  /** Scan only the files that can match `column` ∈ [lo, hi]. The range
    * filter itself is ALSO applied (pushed to the surviving scans), so
    * the result equals the unpruned filtered scan — files the manifest
    * skipped could only have contributed zero rows. */
  def readSkipping(spark: SparkSession, table: String, column: String,
      lo: Any, hi: Any): DataFrame = {
    val survivors = prune(spark, table, column, lo, hi)
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    if (survivors.isEmpty)
      spark.read.parquet(table).filter(lit(false))
    else
      readFiles(spark, table, survivors).filter(pred)
  }

  /**
   * Executor-side bloom probe: can `path` contain a row with
   * `column == value`? A file is rejected ONLY when every row group's
   * column chunk carries a bloom filter and every one of them rejects
   * the value — no false negatives by the split-block bloom contract,
   * so a rejection is proof of absence. Any missing bloom, missing
   * chunk, or unsupported probe type keeps the file. Footer + bloom
   * bitset reads only (a few KB per row group), never data pages.
   */
  private[sources] def bloomKeepsFile(path: String, conf: Configuration,
      column: String, value: Any): Boolean =
    Tools.withFooter(new org.apache.hadoop.fs.Path(path), conf) { reader =>
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      blocks.isEmpty || blocks.exists { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column)
          .forall(Tools.bloomProbe(reader, b, _, value).getOrElse(true))
      }
    }

  /**
   * Files that can contain rows with `column == value` — the POINT-
   * LOOKUP prune. Min/max ranges are useless for equality on a
   * high-cardinality column that is not the sort key (every file spans
   * most of the domain), which is exactly the 100 TB "find one
   * document id in 2·10⁵ files" shape. Two stages, both metadata-only:
   * the manifest overlap cut ([[prune]] at [value, value]) runs
   * against ONE small parquet, then the survivors fan out across
   * executors for a bloom-bitset probe (written by
   * [[ParquetIO.writeWithBloomFilters]]) — ~10 bits/distinct-value per
   * row group, read without touching data pages. Files without blooms
   * are kept; a bloom rejection is proof of absence, so the cut is
   * exact-safe.
   */
  def pruneEquality(spark: SparkSession, table: String, column: String,
      value: Any): Seq[String] =
    bloomSurvivors(spark, prune(spark, table, column, value, value),
      column, value)

  /** The executor-fanout bloom cut over an explicit candidate list —
    * shared by [[pruneEquality]] and [[TxTable.readSkippingEquality]]
    * (whose candidate universe is the commit log's, not a listing's).
    * Files without blooms survive; a rejection is proof of absence. */
  private[sources] def bloomSurvivors(spark: SparkSession,
      files: Seq[String], column: String, value: Any): Seq[String] = {
    if (files.isEmpty) Seq.empty
    else {
      val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
      spark.createDataset(files)(org.apache.spark.sql.Encoders.STRING)
        .repartition(math.min(files.size, 64))
        .filter { f: String => bloomKeepsFile(f, conf.value, column, value) }
        .collect().toSeq.sorted
    }
  }

  /** Scan only the files whose stats AND blooms admit `column == value`;
    * the equality filter is still applied (and pushed — parquet-mr then
    * re-checks blooms per row group below the file cut), so the result
    * equals the unpruned filtered scan. */
  def readSkippingEquality(spark: SparkSession, table: String,
      column: String, value: Any): DataFrame = {
    val survivors = pruneEquality(spark, table, column, value)
    if (survivors.isEmpty)
      spark.read.parquet(table).filter(lit(false))
    else
      readFiles(spark, table, survivors).filter(col(column) === lit(value))
  }
}
