package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Raw-ingest format surface (round 12) — the step BEFORE the parquet
 * lake: crawl and vendor data arrive as JSONL (usually gzipped), CSV, or
 * ORC, and the first job of a 100 TB pipeline is landing them into
 * columnar form. All readers take an EXPLICIT schema: schema inference
 * reads the data twice and can silently widen types between batches —
 * at scale the contract is schema-on-write, inference is a dev-time tool.
 *
 * Codec note: .gz text files are NOT splittable — one 50 GB .jsonl.gz
 * becomes one task. The writers here emit many files (the upstream
 * partitioning), which is the standard mitigation: parallelism comes
 * from file count, not intra-file splits; zstd/bzip2 or uncompressed
 * text split natively. Parquet/ORC row groups split regardless.
 */
object IngestIO {

  /** JSONL (one JSON object per line) with explicit schema. PERMISSIVE
    * mode + a corrupt-record column is the production posture: a broken
    * line lands in `corruptCol` instead of killing the 100 TB job, and
    * the caller splits good/bad with one filter (IngestSpec pins this). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
      corruptCol: Option[String] = None): DataFrame = {
    val withCorrupt = corruptCol.map(c =>
      schema.add(c, org.apache.spark.sql.types.StringType)).getOrElse(schema)
    val r = spark.read.schema(withCorrupt).option("mode", "PERMISSIVE")
    corruptCol.fold(r)(c => r.option("columnNameOfCorruptRecord", c))
      .json(path)
  }

  def writeJsonl(df: DataFrame, path: String, compression: String = "gzip"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** CSV with explicit schema; header on by default (vendor-file
    * reality). Same PERMISSIVE + corrupt-column posture as
    * [[readJsonl]]: a malformed line (wrong column count, unparseable
    * type) quarantines instead of killing the landing job. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true, delimiter: String = ",",
      corruptCol: Option[String] = None): DataFrame = {
    val withCorrupt = corruptCol.map(c =>
      schema.add(c, org.apache.spark.sql.types.StringType)).getOrElse(schema)
    val r = spark.read.schema(withCorrupt)
      .option("header", header.toString).option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    corruptCol.fold(r)(c => r.option("columnNameOfCorruptRecord", c))
      .csv(path)
  }

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      compression: String = "gzip"): Unit =
    df.write.mode("overwrite")
      .option("header", header.toString)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("compression", compression)
      .csv(path)

  /** STREAMING JSONL landing — tail a drop directory of (possibly
    * gzipped) JSONL files and land each micro-batch; the crawl-ingest
    * front door. Same explicit-schema + corrupt-column posture as the
    * batch reader: a broken line quarantines, the stream never dies.
    * Compose with `Streams.parquetSink` (columnar landing),
    * `Streams.contentDedupStream`/`qualityGateStream` (front-door
    * filtering), or `writeStream.format("txtable")` (keyed CDC). */
  def streamJsonl(spark: SparkSession, dir: String, schema: StructType,
      corruptCol: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val withCorrupt = corruptCol.map(c =>
      schema.add(c, org.apache.spark.sql.types.StringType)).getOrElse(schema)
    val base = spark.readStream.schema(withCorrupt).option("mode", "PERMISSIVE")
    val withCc = corruptCol.fold(base)(c => base.option("columnNameOfCorruptRecord", c))
    maxFilesPerTrigger.fold(withCc)(n => withCc.option("maxFilesPerTrigger", n.toString))
      .json(dir)
  }

  /** ORC — the other columnar lake format; a reference user migrating an
    * ORC warehouse reads it natively, same pushdown/pruning tier as
    * parquet (predicate pushdown + stripe stats). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, compression: String = "zstd"): Unit =
    df.write.mode("overwrite").option("compression", compression).orc(path)
}
