package graft.sources

import org.apache.spark.sql.SparkSession

/**
 * CLI parity with the reference's three tools (SURVEY.md §3 E3):
 *  - `schema <path>`               ≙ parquet-dump-schema (`parquet-dump-schema.cc:23-33`)
 *  - `dump <path> [--json] [--columns=a,b] [--only-metadata] [--print-kv] [--levels[=N]] [--memory-map]`
 *                                  ≙ parquet_reader (`parquet_reader.cc:24-72`;
 *                                    `--levels` = the per-value def/rep scan of
 *                                    `parquet_reader.cc:66-72`, N values per column)
 *  - `scan <path> [--columns=a,b] [--batch-size=N]`
 *                                  ≙ parquet-scan timed count (`parquet-scan.cc:25-71`;
 *                                    `--batch-size` ≙ `parquet-scan.cc:35`)
 *  - `read-row-group <path> --row-group=R [--memory-map]`
 *    (`--memory-map`/`--no-memory-map` ≙ the reference reader's mmap
 *    toggle, `parquet_reader.cc:35,64` — S9; stream read is our default
 *    because the Hadoop path also serves non-local filesystems)
 *                                  ≙ single-row-group data read (`reader-writer.cc:77-90`)
 *  - `schema <path> --raw`        parquet MessageType incl. logical annotations (round 18)
 *  - `history <root>` / `maintain <root> [--max-tail=N] [--min-dead-fraction=F] [--grace-ms=N]`
 *                                  transactional-table log introspection +
 *                                  one-call policy maintenance (round 18)
 *  - `merge <in1,in2,...> --out=<path> [--sort-by=a,b] [--target-file-bytes=N]`
 *                                  ≙ the repo's namesake file-merge capability
 *                                    (plain size-derived merge, or clustered
 *                                    compaction when --sort-by is given)
 *  - `cursors <root>` / `store <root>` /
 *    `sql <root> --table=t --statement='…' [--conflict-detect]`
 *                                  round 19: registered-consumer floor,
 *                                  create-no-overwrite classification, and
 *                                  one-shot MERGE/DELETE/UPDATE routing
 *
 * Run: `sbt "runMain graft.sources.ToolsCli <cmd> <path> [flags]"`.
 */
object ToolsCli {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ToolsCli schema|dump|scan <path> [flags]")
    val cmd = args(0); val path = args(1)
    val flags = args.drop(2).toSeq
    def columns: Seq[String] = flags.collectFirst {
      case f if f.startsWith("--columns=") => f.stripPrefix("--columns=").split(",").toSeq
    }.getOrElse(Nil)

    // the shared recipe's confs include the legacy nanos conf, which
    // keeps TIMESTAMP(NANOS) files (e.g. the events table) readable —
    // Spark 4 rejects them outright without it
    val spark = graft.SessionDefaults.session(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"), 4, "ERROR")
    try run(spark, cmd, path, flags, columns)
    finally spark.stop()
  }

  private[graft] def run(spark: SparkSession, cmd: String, path: String,
      flags: Seq[String], columns: Seq[String]): Unit = {
    val mmap = flags.contains("--memory-map") && !flags.contains("--no-memory-map")
    cmd match {
    case "schema" =>
      // --raw: the parquet MessageType with logical annotations (round 18
      // — TIME(MILLIS) etc. survive here, the Spark tree maps them away)
      if (flags.contains("--raw")) println(Tools.parquetSchemaTree(spark, path))
      else println(Tools.schemaTree(spark, path))

    case "dump" =>
      val json = flags.contains("--json")
      if (json) println(Tools.schemaJson(spark, path))
      if (flags.contains("--print-kv"))
        Tools.keyValueMetadata(spark, path).foreach { case (k, v) =>
          println(s"$k: ${v.take(120)}") }
      Tools.rowGroups(spark, path).foreach { rg =>
        println(s"row group ${rg.rowGroup}: rows=${rg.numRows} bytes=${rg.totalByteSize} " +
          s"compressed=${rg.compressedBytes} columns=${rg.numColumns}")
      }
      flags.collectFirst {
        case "--levels" => Long.MaxValue
        case f if f.startsWith("--levels=") => f.stripPrefix("--levels=").toLong
      }.foreach { cap =>
        Tools.parquetFiles(spark, path).headOption.foreach { f =>
          Tools.valueLevels(spark, f.toString, cap, mmap = mmap).foreach { v =>
            println(s"${v.column} rg=${v.rowGroup} r:${v.rep} d:${v.defLevel} v:${v.value}")
          }
        }
      }
      if (!flags.contains("--only-metadata")) {
        val df0 = spark.read.parquet(path)
        val df = if (columns.nonEmpty) df0.select(columns.map(org.apache.spark.sql.functions.col): _*) else df0
        if (json) df.toJSON.collect().take(20).foreach(println)
        else df.show(20, truncate = false)
      }

    case "scan" =>
      val batchSize = flags.collectFirst {
        case f if f.startsWith("--batch-size=") => f.stripPrefix("--batch-size=").toInt
      }
      val (rows, secs) = Tools.timedScan(spark, path, columns, batchSize)
      println(f"$rows rows scanned in $secs%.3f seconds")   // the parquet-scan report line

    case "read-row-group" =>
      val rg = flags.collectFirst {
        case f if f.startsWith("--row-group=") => f.stripPrefix("--row-group=").toInt
      }.getOrElse(0)
      Tools.readRowGroup(spark, path, rg, mmap = mmap).show(20, truncate = false)

    // the namesake operation as a tool: <path> here is comma-separated
    // inputs; --out is required, --sort-by turns merge into a clustered
    // compaction (disjoint per-file key ranges), --target-file-bytes
    // sizes the output
    // transactional-table introspection + policy maintenance (round 18):
    // `history <root>` prints the commit log (DESCRIBE HISTORY analogue),
    // `maintain <root> [--max-tail=N] [--min-dead-fraction=F] [--grace-ms=N]`
    // runs the metadata-decided fold/compact/vacuum tree and reports
    case "history" =>
      TxTable.history(spark, path).orderBy("commit").collect().foreach { r =>
        println(s"commit ${r.getLong(0)}${if (r.getBoolean(1)) " [checkpoint]" else ""}: " +
          s"files=${r.getLong(2)} bytes=${r.getLong(3)} deleted=${r.getLong(4)}")
      }

    case "maintain" =>
      def num(name: String, dflt: Long): Long = flags.collectFirst {
        case f if f.startsWith(s"--$name=") => f.stripPrefix(s"--$name=").toLong
      }.getOrElse(dflt)
      val actions = TxTable.maintain(spark, path,
        maxTail = num("max-tail", 32L).toInt,
        minDeadFraction = flags.collectFirst {
          case f if f.startsWith("--min-dead-fraction=") =>
            f.stripPrefix("--min-dead-fraction=").toDouble
        }.getOrElse(0.3),
        graceMs = num("grace-ms", 24L * 3600 * 1000))
      if (actions.isEmpty) println("nothing to do")
      else actions.foreach(a => println(s"did: $a"))

    case "merge" =>
      val inputs = path.split(",").toSeq
      val out = flags.collectFirst {
        case f if f.startsWith("--out=") => f.stripPrefix("--out=")
      }.getOrElse(sys.error("merge requires --out=<path>"))
      val target = flags.collectFirst {
        case f if f.startsWith("--target-file-bytes=") => f.stripPrefix("--target-file-bytes=").toLong
      }.getOrElse(512L * 1024 * 1024)
      val sortBy = flags.collectFirst {
        case f if f.startsWith("--sort-by=") => f.stripPrefix("--sort-by=").split(",").toSeq
      }
      sortBy match {
        case Some(cols) => ParquetIO.compactSorted(spark, inputs, out, cols, target)
        case None       => ParquetIO.merge(spark, inputs, out, target)
      }
      val rgs = Tools.rowGroups(spark, out)
      println(s"merged ${inputs.size} inputs -> $out: " +
        s"${rgs.map(_.numRows).sum} rows, ${rgs.map(_.file).distinct.size} files, ${rgs.size} row groups")

    case "cursors" =>
      // registered change-feed consumers + the expire floor (round 19)
      val cs = TxTable.registeredCursors(path)
      if (cs.isEmpty) println("no registered cursors")
      else {
        cs.foreach { case (n, c) => println(s"cursor $n: applied commit $c") }
        println(s"expire floor: ${TxTable.cursorFloor(path).getOrElse(-1L)}")
      }

    case "store" =>
      // what mutual exclusion createMarker can deliver here (round 19)
      println(s"create-no-overwrite on $path: ${Fs.atomicCreateSupport(path)}")

    case "sql" =>
      // route one DML statement at a txtable root (round 19):
      //   ToolsCli sql <root> --table=t --statement='DELETE FROM t WHERE …'
      val stmt = flags.collectFirst {
        case f if f.startsWith("--statement=") => f.stripPrefix("--statement=")
      }.getOrElse(sys.error("sql requires --statement='MERGE|DELETE|UPDATE …'"))
      val tname = flags.collectFirst {
        case f if f.startsWith("--table=") => f.stripPrefix("--table=")
      }.getOrElse("t")
      val k = graft.sources.txtable.TxSql.exec(spark, stmt, Map(tname -> path),
        conflictDetect = flags.contains("--conflict-detect"))
      println(s"committed c$k")

    case other => sys.error(s"unknown command: $other")
    }
  }
}
