package graft.sources.txtable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftshims.StreamingShims

/**
 * STREAMING WRITE to the transactional table (round 19) — the sink half
 * of `format("txtable")`, and the engine's one streaming CDC write
 * surface; every parameter is an option:
 *
 * {{{
 *   df.writeStream.format("txtable")
 *     .option("keys", "id")              // MERGE key columns (required)
 *     .option("versionCol", "version")   // latest-wins version (required)
 *     .option("opCol", "op")             // optional 'd' tombstone column
 *     .option("checkpointEvery", "16")   // in-stream maintenance cadence
 *     .option("partitionCols", "day")    // hive layout for the commits
 *     .option("bloomCols", "id")
 *     .option("conflictDetect", "true")  // OCC next to batch writers
 *     .option("checkpointLocation", cp)
 *     .start(root)
 * }}}
 *
 * Every micro-batch is ONE atomic MERGE commit —
 * [[graft.streaming.Streams.txUpsertBatch]]: the batch's (stream tag,
 * batch id) record rides in its commit marker, so a replay of a
 * committed batch is skipped by a snapshot read (exactly-once); the
 * first batch auto-creates the table, and an optional checkpoint/expire/
 * vacuum cadence keeps a long-running stream's read plan bounded.
 *
 * The sink is deliberately MERGE-only (keys + version required): it is a
 * keyed CDC sink — each row inserts, updates or (`opCol`) deletes its
 * key, latest version winning, so a late batch never regresses newer
 * data; an append-only stream is the degenerate case (unique keys, any
 * version). Chained with the read side this gives
 * end-to-end table replication in two lines:
 * `readStream.format("txtable")` (the change feed, op column included)
 * piped into this sink with `opCol=op, versionCol=commit`.
 *
 * V1 `Sink`: `addBatch`'s one-shot incremental DataFrame is re-planted
 * as a batch plan over its own RDD lineage
 * ([[StreamingShims.asBatchDataFrame]]) so the MERGE's several jobs
 * (winner persist, DV build, add write) can each execute it.
 */
class TxStreamSink(root: String, keys: Seq[String], versionCol: String,
    opCol: Option[String], checkpointEvery: Int, bloomCols: Seq[String],
    partitionCols: Seq[String], conflictDetect: Boolean,
    conflictWaitMs: Long, streamTag: String) extends Sink {

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit =
    graft.streaming.Streams.txUpsertBatch(data.sparkSession, root,
      StreamingShims.asBatchDataFrame(data.toDF()), batchId,
      keys, versionCol, opCol, checkpointEvery, bloomCols, partitionCols,
      conflictDetect, conflictWaitMs, streamTag)

  override def toString: String = s"TxStreamSink[$root]"
}

object TxStreamSink {

  /** Streaming-write options contract (see class doc);
    * `partitionByCols` is `writeStream.partitionBy(...)`, honored as
    * the hive layout; `sessionDefaultCheckpoint` is the session's
    * `spark.sql.streaming.checkpointLocation` (the fallback identity
    * source when the explicit option is absent). */
  private[txtable] def sinkParams(parameters: Map[String, String],
      partitionByCols: Seq[String] = Seq.empty,
      sessionDefaultCheckpoint: Option[String] = None): TxStreamSink = {
    val o = TxOptions(parameters)
    val root = o.required("path",
      "txtable: pass the table root as the start path — " +
        "df.writeStream.format(\"txtable\").start(root)")
    val keys = o.cols("keys")
    require(keys.nonEmpty,
      "txtable streaming writes are per-batch MERGE commits and need the " +
        "key columns — .option(\"keys\", \"id1,id2\") (append-only streams " +
        "use a unique key; a keyless sink would duplicate rows on replay)")
    val version = o.required("versionCol",
      "txtable: name the latest-wins version column — " +
        ".option(\"versionCol\", \"version\") (a change-feed relay uses " +
        "its 'commit' column)")
    // batch ids are per-checkpoint — the checkpoint path tags the
    // replay records so two streams into one table never skip each
    // other's batches (Streams.streamTag). Resolution mirrors Spark's
    // own: the explicit option, else the session default + the query
    // name (a NAMED stream on the session default resolves exactly
    // there; an unnamed one gets a random UUID dir we cannot predict at
    // createSink time — loud, because a guessed identity would shift on
    // every restart and break the replay records' exactly-once gate).
    val checkpoint = o.get("checkpointLocation")
      .orElse(for {
        base <- sessionDefaultCheckpoint
        name <- o.get("queryName")
      } yield s"${base.stripSuffix("/")}/$name")
      .getOrElse(throw new IllegalArgumentException(
        "txtable sink: set .option(\"checkpointLocation\", …) — or the " +
          "session default spark.sql.streaming.checkpointLocation PLUS " +
          ".queryName(…) — the checkpoint identifies the stream for " +
          "exactly-once replay (an unnamed stream on the session default " +
          "checkpoints under a fresh random dir each start, which would " +
          "reset the replay records)"))
    val tag = graft.streaming.Streams.streamTag(checkpoint)
    val optParts = o.cols("partitionCols")
    require(optParts.isEmpty || partitionByCols.isEmpty ||
        optParts == partitionByCols,
      s"txtable sink: partitionBy(${partitionByCols.mkString(",")}) and " +
        s"option(\"partitionCols\", \"${optParts.mkString(",")}\") disagree")
    val parts = if (partitionByCols.nonEmpty) partitionByCols else optParts
    new TxStreamSink(root, keys, version,
      o.get("opCol"),
      o.long("checkpointEvery").map(_.toInt).getOrElse(0),
      o.cols("bloomCols"), parts,
      o.bool("conflictDetect"),
      o.long("conflictWaitMs").getOrElse(60L * 1000), tag)
  }
}
