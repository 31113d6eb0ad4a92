package graft.sources.txtable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => ConnectorOffset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.sources.TxTable

/**
 * STREAMING READ of the transactional table (round 19) — the source
 * half of the Spark-idiomatic surface, completing
 * [[graft.streaming.Streams.txFeedSink]]'s foreachBatch adapter:
 *
 * {{{
 *   spark.readStream.format("txtable")
 *     .option("keys", "id")              // feed key columns (required)
 *     .option("withPreimage", "true")    // emit 'up' retraction rows
 *     .option("startingCursor", "-1")    // full history | N | "latest"
 *     .option("consumerName", "mv1")     // register a retention cursor
 *     .load(root)
 * }}}
 *
 * Each micro-batch is the table's own row-level change feed for the
 * commit range `(startOffset, endOffset]` — offsets ARE commit ids, so
 * the stream's checkpoint IS a change-feed cursor: restart re-lists the
 * log and resumes exactly after the last committed batch, and because
 * commits are immutable once visible, a replayed range re-emits
 * byte-identical rows (the exactly-once contract every changelog
 * consumer downstream — [[graft.operators.Materialize.incrementalAggCdc]],
 * a keyed MERGE sink — composes with).
 *
 * ARCHITECTURE — same rewrite-don't-reimplement stance as the batch
 * DSv2 read: this is the V1 `Source` API (the one Delta's own streaming
 * source ships on) because `getBatch` returns a DATAFRAME — the
 * library's own [[TxTable.changeFeed]] plan with its vectorized parquet
 * scans, sidecar-driven kill resolution, and one diff over the whole
 * commit range — so nothing re-implements parquet reading behind a
 * row-based `PartitionReader`, and a batch over 40 commits plans in the
 * same constant width as the batch API.
 *
 * FIRST batch (no prior offset), by `startingCursor`:
 *  - absent (default): SNAPSHOT BOOTSTRAP — the live table at the
 *    listed tip as `op='i'` rows stamped `commit=tip`, then deltas.
 *    Uniformly correct: on a long-lived table whose history was folded
 *    away the old feed rows live inside feed-invisible checkpoint
 *    commits, and a feed-only start would silently miss them
 *    ([[graft.streaming.Streams.txFeedTick]]'s contract).
 *  - `N` (a long): the real historical feed from commit `N+1` — loud,
 *    never lossy when the range predates retained history (`-1` = full
 *    history, requires the table never folded).
 *  - `"latest"`: nothing historical; deltas from the tip at start.
 *
 * `consumerName` registers the stream as a standing consumer after
 * every batch commit ([[TxTable.registerCursor]]): `expire` then keeps
 * every commit the stream has not read — a lagging stream survives
 * maintenance without a rebuild, at storage (not read-plan) cost.
 *
 * Schema is FIXED at stream start (keys, `op`, payload, `commit`, the
 * shape [[TxTable.changeFeed]] emits); columns a later schema-evolved
 * commit adds are dropped until the stream restarts — the standard
 * streaming-source contract.
 *
 * Idle polls cost one commits listing (`getOffset`), nothing else.
 */
class TxFeedSource(spark: SparkSession, root: String, keys: Seq[String],
    withPreimage: Boolean, startingCursor: Option[String],
    consumerName: Option[String], maxCommitsPerTrigger: Option[Long],
    fixedSchema: Option[StructType] = None)
    extends Source with SupportsTriggerAvailableNow {

  require(TxTable.committedIds(root).nonEmpty,
    s"txtable: nothing committed under $root — create the table before " +
      "streaming its change feed")

  /** The stream schema is the one the RELATION declared at definition
    * time (`fixedSchema`, captured by [[TxTableSource.sourceSchema]]):
    * a commit that evolves the table between `readStream.load` and the
    * batch that scans it would otherwise make this source emit a WIDER
    * schema than the relation's — Spark's invalid-batch assert kills
    * the stream (round 20, caught by the schema-evolution spec the r19
    * verdict asked for). Re-derived only when no definition schema was
    * captured (a source constructed outside the provider). */
  override val schema: StructType =
    fixedSchema.getOrElse(TxFeedSource.feedSchema(spark, root, keys))

  /** `Trigger.AvailableNow` support: the tip is FROZEN at query start,
    * so the run drains exactly the commits visible then and terminates
    * even against a table that keeps committing — without this the
    * engine falls back to one mega-batch with a weaker catch-up
    * guarantee after a crashed run. */
  @volatile private var availableNowTip: Option[Long] = None

  private def currentTip: Long = TxTable.committedIds(root).max

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTip = Some(currentTip)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control entry point — the engine prefers this over
    * `getOffset` once `SupportsAdmissionControl` is implemented. The
    * feed has no rate knob (a commit is the atom), so every limit reads
    * to the (possibly frozen) tip. The `start` the engine passes here
    * is its COMMITTED position — a new batch is only ever constructed
    * after the previous one committed — which makes this poll the one
    * hook that sees the final position of an `AvailableNow` drain
    * (`Source.commit` fires a batch late, when batch N+1 is
    * constructed, so a one-shot drain would otherwise never publish its
    * last batch): registered streams publish the cursor here. */
  override def latestOffset(start: ConnectorOffset, limit: ReadLimit)
      : ConnectorOffset = {
    if (start != null) registerApplied(LongOffset(start.json.trim.toLong))
    val all = TxTable.committedIds(root)
    val tip = availableNowTip.getOrElse(if (all.isEmpty) -1L else all.max)
    // maxCommitsPerTrigger (round 19): without a cap, a stream restarted
    // after long downtime plans its whole lag as ONE batch — bounded
    // batches keep recovery incremental (and under AvailableNow the
    // engine loops capped batches until the frozen tip drains). The cap
    // counts COMMITS, not id arithmetic — ids are sparse (abandoned
    // claims, feed-invisible checkpoints), so a range cap would degrade
    // recovery throughput on gappy logs. The cap needs a base position:
    // the engine's committed start, or the configured starting cursor on
    // the very first batch. Bootstrap and "latest" first batches are
    // uncapped by construction (a snapshot / an empty batch, not a
    // commit range).
    val base: Option[Long] =
      if (start != null) Some(start.json.trim.toLong)
      else startingCursor.filter(_ != "latest").map(_.toLong)
    val end = (maxCommitsPerTrigger, base) match {
      case (Some(m), Some(b)) =>
        val pending = all.filter(k => k > b && k <= tip).sorted
        if (pending.size <= m) tip else pending(m.toInt - 1)
      case _ => tip
    }
    LongOffset(end)
  }

  override def reportLatestOffset(): ConnectorOffset = LongOffset(currentTip)

  /** Publish an engine-committed position as this stream's retention
    * cursor ([[TxTable.registerCursor]] — `expire` then keeps every
    * commit this stream has not applied). Deduped: an idle
    * processing-time stream polls every trigger. */
  @volatile private var lastRegistered: Long = Long.MinValue
  private def registerApplied(pos: V1Offset): Unit = consumerName.foreach { n =>
    val k = TxFeedSource.commitId(pos)
    if (k > lastRegistered) {
      TxTable.registerCursor(root, n, k)
      lastRegistered = k
    }
  }

  /** Align to the stream's fixed schema and mark the plan streaming:
    * `MicroBatchExecution` asserts `isStreaming` on what `getBatch`
    * returns, so the batch plan (the library's change-feed DataFrame,
    * fully Catalyst-optimized at this point) is wrapped as a
    * streaming-tagged `LogicalRDD` over its own executed RDD — the same
    * arrangement Delta's streaming source ships. Construction is lazy;
    * nothing executes until the sink runs the batch.
    *
    * Alignment is BY NAME against the fixed schema (round 20): columns
    * a schema-evolved commit ADDED since stream definition are dropped
    * until restart (the documented contract — the rows still flow), and
    * a fixed column the feed plan no longer carries (folded history)
    * comes back NULL rather than killing the stream. */
  private def aligned(df: DataFrame): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val cols = schema.fields.toIndexedSeq.map { f =>
      have.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }
    org.apache.spark.sql.graftshims.StreamingShims.asStreamingDataFrame(
      df.select(cols: _*))
  }

  /** The committed tip — one listing; `None` before anything commits
    * (unreachable after the constructor check, kept for contract). */
  override def getOffset: Option[V1Offset] = {
    val all = TxTable.committedIds(root)
    if (all.isEmpty) None else Some(LongOffset(all.max))
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val hi = TxFeedSource.commitId(end)
    start match {
      case Some(s) =>
        val lo = TxFeedSource.commitId(s)
        if (hi <= lo) aligned(emptyFeed())
        else {
          // LOUD, never lossy on RESTART too (same stance as
          // changeFeedFrom): a stream that lagged past
          // checkpoint+expire maintenance must not resume into a
          // changelog with silent holes — the folded commits are
          // feed-invisible. Registered streams (consumerName) never
          // hit this: their cursor floors the expire.
          val oldest = TxTable.committedIds(root).min
          require(lo + 1 >= oldest,
            s"txtable: stream offset $lo predates the retained history " +
              s"(oldest commit $oldest) — the stream fell behind " +
              "checkpoint+expire maintenance; rebuild its state from a " +
              "snapshot read and restart with a fresh checkpoint (set " +
              "consumerName to register a retention cursor and prevent " +
              "this)")
          aligned(TxTable.changeFeed(spark, root, keys,
            fromCommit = lo + 1, withPreimage = withPreimage, toCommit = hi))
        }
      case None => firstBatch(hi)
    }
  }

  private def firstBatch(hi: Long): DataFrame = startingCursor match {
    case None =>
      // snapshot bootstrap: base rows as inserts at the tip — the same
      // shape the feed emits, so downstream consumers see one uniform
      // changelog whether the table was ever folded or not
      val base = TxTable.readAt(spark, root, hi)
      val payload = base.columns.filterNot(keys.contains).toSeq
      aligned(base.select(keys.map(col) ++ Seq(lit("i").as("op")) ++
        payload.map(col) :+ lit(hi).as("commit"): _*))
    case Some("latest") => aligned(emptyFeed())
    case Some(n) =>
      val cursor = n.toLong
      val oldest = TxTable.committedIds(root).min
      // same loud-never-lossy stance as changeFeedFrom: a cursor below
      // retained history would yield a changelog with silent holes
      require(cursor + 1 >= oldest,
        s"txtable: startingCursor $cursor predates the retained history " +
          s"(oldest commit $oldest) — commits below it were folded into a " +
          "checkpoint and are feed-invisible; drop startingCursor to " +
          "bootstrap from the snapshot instead")
      if (hi <= cursor) aligned(emptyFeed())
      else aligned(TxTable.changeFeed(spark, root, keys,
        fromCommit = cursor + 1, withPreimage = withPreimage, toCommit = hi))
  }

  /** schema-shaped zero rows (a range holding only checkpoint commits,
    * or a "latest" start) */
  private def emptyFeed(): DataFrame =
    TxTable.changeFeed(spark, root, keys, fromCommit = Long.MaxValue,
      withPreimage = withPreimage)

  /** A committed batch is an applied position: registered streams
    * publish it so the table's `expire` retains everything unread.
    * (The engine calls this a batch late; [[latestOffset]]'s start
    * parameter is the primary registration hook.) */
  override def commit(end: V1Offset): Unit = registerApplied(end)

  override def stop(): Unit = ()

  override def toString: String = s"TxFeedSource[$root]"
}

object TxFeedSource {

  /** Offsets are commit ids; recovered offsets arrive re-serialized
    * (`SerializedOffset`), and `LongOffset.json` is the bare long —
    * parse the json form uniformly. */
  private[txtable] def commitId(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  /** The stream's fixed schema: keys, `op`, payload, `commit` — taken
    * from [[TxTable.changeFeed]]'s own empty-range shape so the source
    * can never drift from what the library emits. */
  private[txtable] def feedSchema(spark: SparkSession, root: String,
      keys: Seq[String]): StructType =
    TxTable.changeFeed(spark, root, keys, fromCommit = Long.MaxValue).schema

  /** Streaming options contract (see class doc). */
  private[txtable] def streamParams(parameters: Map[String, String])
      : (String, Seq[String], Boolean, Option[String], Option[String],
         Option[Long]) = {
    val o = TxOptions(parameters)
    val root = o.required("path",
      "txtable: pass the table root as the load path — " +
        "spark.readStream.format(\"txtable\").load(root)")
    val keys = o.cols("keys")
    require(keys.nonEmpty,
      "txtable streaming reads are the row-level change feed and need " +
        "the key columns — .option(\"keys\", \"id1,id2\")")
    val pre = o.bool("withPreimage")
    val starting = o.get("startingCursor").map { v =>
      val t = v.trim
      require(t.equalsIgnoreCase("latest") ||
          t.matches("-?\\d+"),
        s"txtable: startingCursor must be a commit id or 'latest', got '$v'")
      if (t.equalsIgnoreCase("latest")) "latest" else t
    }
    val maxCommits = o.long("maxCommitsPerTrigger").map { m =>
      require(m > 0, s"txtable: maxCommitsPerTrigger must be positive, got $m")
      m
    }
    (root, keys, pre, starting, o.get("consumerName"), maxCommits)
  }
}
