package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Structured Streaming surface (SURVEY.md §2.10) — extension tier; the
 * reference's closest analogue is its incremental size-bounded buffered
 * writer (`reader-writer2.cc:74-93`), i.e. bounded-state incremental
 * processing, which is exactly what watermarks give us.
 *
 * All transforms are expressed on an unbounded DataFrame so the identical
 * code runs batch (tests, oracle) and streaming (readStream).
 */
object Streams {

  /** File-source stream over an events-shaped parquet directory. `ts` is
    * normalized to session-TZ TIMESTAMP by the SAME schema-adaptive helper
    * the batch reader uses ([[graft.RelationalQueries.normalizeEventsTs]]),
    * so the two paths cannot drift across fixture regenerations
    * (ns ⇄ µs ⇄ tz-aware). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // file stream sources monitor DIRECTORIES; select the one table by glob
    graft.RelationalQueries.normalizeEventsTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Watermarked tumbling/sliding-window counts per event type. */
  def windowedCounts(events: DataFrame, windowDur: String = "1 hour",
      slide: Option[String] = None, watermark: String = "2 hours"): DataFrame = {
    val win = slide.map(s => window(col("ts"), windowDur, s))
      .getOrElse(window(col("ts"), windowDur))
    events.withWatermark("ts", watermark)
      .groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))
  }

  /** Session windows per user with a gap duration. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", gap)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming dedup bounded by watermark state. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /**
   * Stream-stream INTERVAL JOIN (round 12): attribute each `purchase` to
   * the `view`s by the same user that preceded it within `maxGap` — the
   * canonical two-stream correlation (ad attribution, request/response
   * pairing, cause→effect windows). Both sides carry watermarks and the
   * join condition bounds event-time distance, so Spark can expire
   * buffered state on BOTH sides: state per side is O(rate × (watermark +
   * maxGap)), never O(stream) — the property that makes the join runnable
   * forever at 100 TB/day. The identical plan runs in batch (watermarks
   * become no-ops, Catalyst picks a plain range-condition join), which is
   * how `q_stream_join` oracle-gates the semantics and StreamJoinSpec
   * pins batch==stream equality.
   *
   * Column contract: `views(user_id, view_id, view_ts)`,
   * `purchases(p_user, purchase_id, purchase_ts, value)`.
   *
   * `joinType = "left_outer"` keeps unattributed views (null purchase
   * columns). In streaming, an outer null-row is emitted only once the
   * watermark proves no match can still arrive — so the outer join's
   * streaming output trails the batch result by the watermark horizon at
   * the stream tail (StreamJoinSpec pins exactly this containment); the
   * batch form — and therefore the oracle — is the plain LEFT JOIN.
   */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      maxGap: String = "6 hours", watermark: String = "12 hours",
      joinType: String = "inner"): DataFrame = {
    val v = views.withWatermark("view_ts", watermark)
    val p = purchases.withWatermark("purchase_ts", watermark)
    v.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $maxGap"),
      joinType)
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("gap_us"),
        col("value"))
  }

  /**
   * Streaming INGEST dedup for a document corpus (round 4): drop any doc
   * whose content hash (sha-256 of the text, the same fixed-width key
   * trick as `Dedup.exactDedupFlags`) was already seen within the
   * watermark horizon — what a production crawl pipeline runs at the
   * front door. State is bounded by the watermark: exact within the
   * horizon, memory-safe beyond it; that trade is the entire reason the
   * streaming form exists next to the batch operator.
   */
  def contentDedupStream(docs: DataFrame, tsCol: String, textCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs.withColumn("__content_key", sha2(col(textCol), 256))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__content_key")
      .drop("__content_key")

  /**
   * Streaming ingest QUALITY GATE: stateless per-row scoring with the
   * same `TextFunctions.qualityScore` the batch surface uses — the cheap
   * filter a crawl pipeline applies BEFORE spending dedup state on a
   * document. Stateless ⇒ no watermark, no store, pure map.
   */
  def qualityGateStream(docs: DataFrame, textCol: String,
      minQuality: Double): DataFrame =
    docs.filter(graft.functions.TextFunctions.qualityScore(col(textCol)) >= minQuality)

  /**
   * The composed ingest front door: quality gate → watermark-bounded
   * content dedup — the order matters (gating first keeps rejected docs
   * out of the dedup state store). StreamingIngestSpec pins equality
   * with the batch formulation.
   */
  def ingestStream(docs: DataFrame, tsCol: String, textCol: String,
      minQuality: Double, watermark: String = "1 hour"): DataFrame =
    contentDedupStream(qualityGateStream(docs, textCol, minQuality),
      tsCol, textCol, watermark)

  /**
   * Incremental parquet sink via foreachBatch — the Structured Streaming
   * analogue of the reference's size-bounded buffered writer
   * (`reader-writer2.cc:74-93`): each micro-batch appends through
   * ParquetIO with the same row-group controls, so the stream produces
   * the identical file layout the batch writer would. Plain append ⇒
   * at-least-once on crash replay; the flag/enrichment sinks below land
   * per-batch directories (`batch=<id>`, overwrite) for exactly-once —
   * use that pattern when duplicates matter more than layout.
   */
  def parquetSink(df: DataFrame, outPath: String, checkpoint: String,
      opts: graft.sources.ParquetIO.WriteOptions = graft.sources.ParquetIO.WriteOptions(),
      availableNow: Boolean = false): StreamingQuery = {
    val w = df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sources.ParquetIO.configured(batch.write.mode("append"), opts).parquet(outPath)
      }
    // Trigger.AvailableNow (round 13): process EVERYTHING currently
    // available, then stop — the scheduled-incremental shape a 100 TB
    // pipeline actually runs nightly (stream semantics + checkpointed
    // exactly-once pickup, batch-job lifecycle; re-launching with the
    // same checkpoint consumes only what arrived since).
    (if (availableNow)
       w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else w)
      .start()
  }

  /** A stream's identity in the tables it writes: batch ids are
    * PER-CHECKPOINT, so two streams feeding one table would collide on
    * bare ids — stream A's record would make stream B silently SKIP its
    * own batch (a lost batch). The checkpoint path is the identity; its
    * digest tags every replay record the stream commits
    * ([[streamCommit]]), 128 bits of SHA-256 so that a collision between
    * two checkpoints feeding one table is cryptographically negligible. */
  private[graft] def streamTag(checkpoint: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(16).map(b => f"$b%02x").mkString

  /**
   * ONE stream batch's commit to the table at `root` — behind the
   * `format("txtable")` sink ([[txUpsertBatch]]) and every standing
   * sink's state ([[commitState]]). `commit` lands the batch with the
   * record `(tag, batchId)` in its commit marker (Delta's `txn` action),
   * so a replay check is a snapshot read
   * ([[graft.sources.TxTable.streamBatch]]): a batch whose record the
   * table holds is skipped. `commit` also learns whether the table has
   * a commit yet, from that same read. Every `checkpointEvery` batches
   * the log then folds (checkpoint + expire + vacuum; the sink is the
   * table's one maintenance writer); a replayed cadence batch whose fold
   * did not land (no checkpoint carries its record yet) runs the fold.
   */
  private def streamCommit(spark: SparkSession, root: String, batchId: Long,
      tag: String, checkpointEvery: Int, partitionCols: Seq[String])(
      commit: (Boolean, Seq[(String, Long)]) => Unit): Unit = {
    import graft.sources.TxTable
    val (created, last) = TxTable.streamBatch(root, tag)
    val done = last.filter(_._1 >= batchId)
    if (done.isEmpty) commit(created, Seq(tag -> batchId))
    if (checkpointEvery > 0 && batchId > 0 && batchId % checkpointEvery == 0 &&
        !done.exists(_._2)) {
      // the fold loses its fence to a concurrent writer under
      // multi-writer OCC, and to the unredeemed claim of a writer
      // killed mid-commit in any deployment — skip this cadence and
      // fold at a later one rather than fail the stream. Vacuum runs
      // either way: it sweeps a dead writer's claim once the claim
      // outlives the grace window, which unblocks the fold
      try {
        TxTable.checkpoint(spark, root, partitionCols = partitionCols)
        TxTable.expire(spark, root)
      } catch {
        case e: TxTable.CommitConflictException =>
          System.err.println(
            s"[stream commit] maintenance fold skipped this cadence: ${e.getMessage}")
      }
      TxTable.vacuum(spark, root)
    }
  }

  /**
   * One micro-batch of the `df.writeStream.format("txtable")` CDC sink
   * ([[graft.sources.txtable.TxStreamSink]]): the batch lands through
   * [[streamCommit]] as one [[graft.sources.TxTable.upsert]] commit —
   * atomic delete+append, write volume ∝ the batch (SCALE.md `txtable`).
   * The first batch auto-creates the table (an empty commit 0 in the
   * batch's schema, then the MERGE every later batch takes).
   * `conflictDetect` makes the MERGE an OCC writer, so a batch job
   * upserting next to the sink serializes instead of losing an update.
   */
  private[graft] def txUpsertBatch(spark: SparkSession, root: String,
      batchDf: DataFrame, batchId: Long,
      keyCols: Seq[String], versionCol: String,
      opCol: Option[String], checkpointEvery: Int,
      bloomCols: Seq[String], partitionCols: Seq[String],
      conflictDetect: Boolean, conflictWaitMs: Long,
      tag: String): Unit =
    streamCommit(spark, root, batchId, tag, checkpointEvery, partitionCols) { (created, txns) =>
      import graft.sources.TxTable
      if (!created) {
        // an empty create in the table's schema (op is transport
        // metadata, never table data), FLAT even when partitionCols is
        // set: a partitioned write of zero rows leaves no schema-bearing
        // file, while the flat one reconciles by name with the
        // partitioned commits that follow
        val shape = opCol.map(batchDf.drop(_)).getOrElse(batchDf)
        TxTable.create(spark, root, spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          shape.schema), bloomCols)
      }
      TxTable.upsertAs(spark, root, batchDf, keyCols, versionCol, opCol,
        bloomCols, TxTable.broadcastKeys, partitionCols, conflictDetect,
        conflictWaitMs, txns)
    }

  /**
   * TxTable-fed standing VECTOR STATE (round 18, the missing consumer of
   * the change feed): keeps `stateRoot` — itself a [[graft.sources.TxTable]]
   * of (id, vector) — synchronized with a MUTATING source table by
   * consuming `changeFeedFrom(srcRoot, cursor)`: inserts and updates
   * upsert the id's CURRENT vector (re-enrichment — the old vector can
   * never serve another query), deletes tombstone it (retirement — a
   * GDPR-erased embedding stops being anyone's neighbor), and the feed's
   * own `commit` id is the upsert version, so any cross-commit races
   * inside one chunk resolve latest-wins in the state merge itself.
   * Returns the new cursor (persist it WITH your own state; re-running a
   * chunk is a snapshot no-op — same-version re-application is absorbed
   * by the MERGE, re-deletes find nothing).
   *
   * This is the batch/cursor twin of [[annEnrichSink]]/
   * [[semanticDedupSink]]'s state tables, for sources that are TABLES
   * (CDC-maintained) rather than append streams: those sinks' state
   * only ever GROWS, which is correct for immutable arrivals but
   * wrong under updates/deletes. Downstream, build the index over
   * `TxTable.read(stateRoot)` ([[graft.operators.Similarity.imiBuildIndex]]
   * / `imiIncrementalTopK`) — Δ-cost per sync, index rebuild on your
   * epoch cadence, exactly the sink contract. 100 TB shape: per sync the
   * work is ∝ feed chunk (the commits' touched files), the state upsert
   * is one MERGE ∝ chunk, and the state table gets the full maintenance
   * tier (checkpoint/expire/compact) like any TxTable.
   */
  def txVectorStateSync(spark: SparkSession, srcRoot: String,
      stateRoot: String, idCol: String, vecCol: String, cursor: Long,
      consumerName: Option[String] = None): Long = {
    import graft.sources.TxTable
    // registered consumers (round 19): each successful sync publishes
    // the applied position, so the SOURCE table's expire keeps the
    // commits this state has not read yet — the standing consumer can
    // lag maintenance without being forced into a snapshot rebuild
    def registered(tip: Long): Long = {
      consumerName.foreach(TxTable.registerCursor(srcRoot, _, tip))
      tip
    }
    if (TxTable.committedIds(stateRoot).isEmpty) {
      // BOOTSTRAP from the SNAPSHOT, not the feed (round 18): on a
      // long-lived table whose history was folded away, the feed's
      // oldest rows live inside feed-invisible checkpoint commits — a
      // feed bootstrap would silently miss them (and changeFeedFrom now
      // fails loudly on an expired cursor). The snapshot read at the
      // listed tip is also cheaper: one scan, no kill resolution, no
      // window. Rows carry version = tip, so the next chunk's commits
      // (> tip) win exactly as if they had been fed.
      val all = TxTable.committedIds(srcRoot)
      require(all.nonEmpty, s"txtable: nothing committed under $srcRoot")
      val tip = all.max
      val snap = TxTable.readAt(spark, srcRoot, tip)
        .select(col(idCol), col(vecCol))
        .withColumn("version", lit(tip))
      TxTable.create(spark, stateRoot, snap)
      return registered(tip)
    }
    TxTable.changeFeedFrom(spark, srcRoot, Seq(idCol), cursor) match {
      case None =>
        if (cursor >= 0) registered(cursor) else cursor
      case Some((feed, tip)) =>
        // one row per (id, commit); 'd' maps straight onto the MERGE's
        // tombstone op, commit onto its version
        val batch = feed.select(col(idCol), col(vecCol),
          col("commit").as("version"), col("op"))
        TxTable.upsert(spark, stateRoot, batch, Seq(idCol), "version",
          opCol = Some("op"))
        registered(tip)
    }
  }

  /** A standing sink's state table: one [[graft.sources.TxTable]] with a
    * row per arrival, tagged with its `batch`. */
  private def stateRoot(outDir: String): String = s"$outDir/_stream_state"

  /** Create a sink's state table once, from `seed` (zero rows give the
    * schema). A crash mid-create leaves no commit marker, so a restart
    * creates it again; no batch can run before it commits. */
  private def openState(root: String, seed: => DataFrame): Unit =
    if (graft.sources.TxTable.committedIds(root).isEmpty) {
      val rows = seed
      graft.sources.TxTable.create(rows.sparkSession, root, rows)
    }

  /** Commit one batch's arrivals to the state as one append through
    * [[streamCommit]]: O(batch), and a replay of a committed batch is
    * skipped. `checkpointEvery` is the sink's fold cadence. */
  private def commitState(root: String, rows: DataFrame, batchId: Long,
      checkpointEvery: Int, tag: String): Unit =
    streamCommit(rows.sparkSession, root, batchId, tag, checkpointEvery, Nil)((_, txns) =>
      graft.sources.TxTable.appendAs(rows.sparkSession, root, rows, Nil, Nil, Nil, txns))

  /** Load-or-train a sink's coarse quantizer (round 16 review): the
    * centroid table is persisted under `outDir` at FIRST creation
    * (write, then a create-once `_SAVED` marker — an unmarked dir is a
    * crashed partial write and retrains) and reloaded on resume, so the
    * state table's cell assignments stay quantized under the
    * SAME centroids across a restart even when the corpus has since
    * changed. Corpus assignments are re-derived under the frozen
    * quantizer; see [[graft.operators.Similarity.imiBuildIndexFrom]]. */
  private def loadOrBuildImiIndex(corpus: DataFrame, outDir: String,
      idCol: String, vecCol: String, nAssign: Int): graft.operators.Similarity.ImiIndex = {
    val Similarity = graft.operators.Similarity
    val centsDir = s"$outDir/_index_cents"
    if (graft.sources.Fs.exists(s"$centsDir/_SAVED"))
      Similarity.imiBuildIndexFrom(
        corpus.sparkSession.read.parquet(centsDir), corpus, idCol, vecCol, nAssign)
    else {
      val idx = Similarity.imiBuildIndex(corpus, idCol, vecCol, nAssign = nAssign)
      idx.cents.write.mode("overwrite").parquet(centsDir)
      graft.sources.Fs.createMarker(s"$centsDir/_SAVED", centsDir)
      idx
    }
  }

  /**
   * The per-batch body the two vector sinks share. At sink start: the
   * IMI index is loaded or trained ([[loadOrBuildImiIndex]]) and the
   * state table is created empty. Per micro-batch: the batch vectors are
   * spilled once as (id, qvec) and assigned to their cells (id, cl, cr);
   * the standing side is the corpus ∪ every committed arrival, read from
   * the state table as cells (id, cl, cr) and vectors (nbr, cvec);
   * `decide` turns these four into the batch's output, which overwrites
   * `outDir/batch=<id>`; then the batch's arrivals — one row of (id,
   * batch, cells, vec) each — commit to the state. A crash between the
   * output and the commit replays the batch, and each `decide`
   * anti-joins the batch ids off the standing side, so the replay scores
   * identically to its first attempt.
   */
  private def vectorSink(newVecs: DataFrame, corpus: DataFrame,
      outDir: String, checkpoint: String, idCol: String, vecCol: String,
      nAssign: Int, compactEvery: Int, site: String)(
      decide: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame)
      : StreamingQuery = {
    import org.apache.spark.sql.{Dataset, Row}
    val Similarity = graft.operators.Similarity
    // centroids persist under outDir (round 16): a restart re-derives the
    // corpus assignments under the ORIGINAL quantizer instead of
    // retraining, so the committed arrivals' cells stay collision-
    // compatible even when the corpus changed across the restart
    val index = loadOrBuildImiIndex(corpus, outDir, idCol, vecCol, nAssign)
    val state = stateRoot(outDir)
    def arrivals(bvecs: DataFrame, bCells: DataFrame, batchId: Long) =
      bCells.groupBy(col("id"))
        .agg(collect_list(struct(col("cl"), col("cr"))).as("cells"))
        .join(bvecs, "id")
        .select(col("id"), lit(batchId).as("batch"), col("cells"),
          col("qvec").as("vec"))
    openState(state, {
      val spark = newVecs.sparkSession
      val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        newVecs.select(col(idCol).as("id"), col(vecCol).as("qvec")).schema)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], arrivals(none,
        Similarity.imiAssignWithIndex(index, none, "id", "qvec"), -1L).schema)
    })
    val tag = streamTag(checkpoint)
    newVecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // spilled once: feeds assignment, the verify join, the output
        // and the state commit
        val bvecs = graft.operators.Materialize.viaParquet(
          batch.toDF().select(col(idCol).as("id"), col(vecCol).as("qvec")),
          s"${site}_batch")
        val bCells = graft.operators.Materialize.viaParquet(
          Similarity.imiAssignWithIndex(index, bvecs, "id", "qvec"),
          s"${site}_bcells")
        val standing = graft.sources.TxTable.read(batch.sparkSession, state)
        val standCells = index.corpusCells.unionByName(
          standing.select(col("id"), explode(col("cells")).as("c"))
            .select(col("id"), col("c.cl"), col("c.cr")))
        val standVecs = index.corpusVecs.unionByName(
          standing.select(col("id").as("nbr"), col("vec").as("cvec")))
        decide(bvecs, bCells, standCells, standVecs)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        commitState(state, arrivals(bvecs, bCells, batchId), batchId,
          compactEvery, tag)
      }
      .start()
  }

  /**
   * Streaming ANN enrichment (round 12): every micro-batch of NEW vectors
   * gets its top-`k` corpus neighbors and lands as parquet — the
   * ingest-time similarity join every embedding pipeline runs (tag each
   * arriving document with its nearest standing neighbors for dedup /
   * retrieval / labeling downstream). The IMI index is built ONCE at sink
   * creation (a corpus artifact, spilled; the centroid table persists
   * under `outDir` and a restart reloads it — see
   * [[graft.operators.Similarity.imiBuildIndexFrom]]); each batch pays
   * only its own assignment (|Δ|·2·√k dots) and the cell join —
   * never |Δ|·n, and never a retrain. Round 16 (Δ×Δ, same recipe as
   * [[semanticDedupSink]]): each committed batch's cell assignments and
   * vectors append to the sink's state table ([[vectorSink]]), so a
   * later arrival's top-`k` draws from corpus ∪ strictly-earlier stream
   * arrivals — not just the build-time corpus. Same-batch vectors are
   * NOT neighbors (ids of the current batch are anti-joined off the
   * standing side, which also makes an at-least-once replay score
   * identically to its first attempt). The state table folds every
   * `compactEvery` batches (checkpoint + expire); rebuild the sink on a
   * corpus compaction epoch to refresh the index itself.
   */
  def annEnrichSink(newVecs: DataFrame, corpus: DataFrame, outDir: String,
      checkpoint: String, idCol: String, vecCol: String, k: Int = 3,
      nAssign: Int = 2, compactEvery: Int = 16): StreamingQuery =
    vectorSink(newVecs, corpus, outDir, checkpoint, idCol, vecCol, nAssign,
        compactEvery, "ann_sink") { (bvecs, bCells, standCells, standVecs) =>
      val cands = bCells.as("q")
        .join(standCells.withColumnRenamed("id", "nbr").as("c"), Seq("cl", "cr"))
        .select(col("q.id").as("id"), col("nbr"))
        .join(bvecs.select(col("id").as("nbr")), Seq("nbr"), "left_anti")
        .distinct()
      val scored = cands.join(bvecs, "id").join(standVecs, "nbr")
        .withColumn("cos_sim", round(graft.plans.GraftExtensions
          .graftCosine(bvecs.sparkSession, col("qvec"), col("cvec")), 4))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("cos_sim").desc, col("nbr"))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .select(col("id"), col("nbr"), col("cos_sim"))
    }

  /**
   * Streaming SEMANTIC dedup (round 12): the SemDeDup decision at the
   * ingest front door — each arriving vector is flagged against the
   * standing corpus (is_dup = nearest corpus neighbor at cos ≥ `minCos`,
   * dup_of = that neighbor, NULL when nothing clears) and the decisions
   * land as parquet. Same one-index-many-batches contract as
   * [[annEnrichSink]], and the same Δ×Δ state ([[vectorSink]]): later
   * arrivals flag against earlier STREAM arrivals, not just the
   * build-time corpus. The batch analogue is the oracle-gated
   * q_dedup_semantic_incremental, the text analogue
   * [[contentDedupStream]].
   */
  def semanticDedupSink(newVecs: DataFrame, corpus: DataFrame, outDir: String,
      checkpoint: String, idCol: String, vecCol: String, minCos: Double = 0.9,
      nAssign: Int = 2, compactEvery: Int = 16): StreamingQuery =
    vectorSink(newVecs, corpus, outDir, checkpoint, idCol, vecCol, nAssign,
        compactEvery, "sem_sink") { (bvecs, bCells, standCells, standVecs) =>
      // standing candidates (corpus ∪ earlier arrivals): any direction,
      // batch ids anti-joined off — within-batch twins flag ONLY through
      // the directed self path below
      val candsStanding = bCells.as("q")
        .join(standCells.withColumnRenamed("id", "nbr").as("c"), Seq("cl", "cr"))
        .select(col("q.id").as("id"), col("nbr"))
        .join(bvecs.select(col("id").as("nbr")), Seq("nbr"), "left_anti")
      // within-batch candidates: the LOWER id is canonical (the batch
      // analogue's least-id convention — arrival order does not exist
      // inside one micro-batch), so exactly one of a same-batch twin
      // pair flags
      val candsSelf = bCells.as("x")
        .join(bCells.select(col("id").as("nbr"), col("cl"), col("cr")).as("y"),
          Seq("cl", "cr"))
        .filter(col("nbr") < col("id"))
        .select(col("id"), col("nbr"))
      val nbrVecs = standVecs.unionByName(
        bvecs.select(col("id").as("nbr"), col("qvec").as("cvec")))
      val scored = candsStanding.unionByName(candsSelf).distinct()
        .join(bvecs, "id")
        .join(nbrVecs, "nbr")
        .withColumn("cos_sim", round(graft.plans.GraftExtensions
          .graftCosine(bvecs.sparkSession, col("qvec"), col("cvec")), 4))
        .filter(col("cos_sim") >= lit(minCos))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("cos_sim").desc, col("nbr"))
      val best = scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("id"), col("nbr"), col("cos_sim"))
      bvecs.select(col("id"))
        .join(best, Seq("id"), "left")
        .select(col("id"),
          col("nbr").isNotNull.cast("int").as("is_dup"),
          col("nbr").as("dup_of"), col("cos_sim"))
    }

  /**
   * Streaming PERCEPTUAL dedup over any 64-bit-hash modality (round 14
   * generalization of the round-13 image sink): each arriving payload is
   * decoded by `hasher` (any (df, idCol, mediaCol) → (idCol, ahash)
   * producer — [[graft.operators.Multimodal.imageAHash]],
   * `audioEnergyHash`, `videoAHash`) and flagged against the STANDING
   * hash table (is_dup = some standing item within `maxHamming`,
   * dup_of = the closest such neighbor — lowest hamming, then lowest
   * id). The standing table is the sink's state table, created at sink
   * start with the corpus hashes (batch −1; the decode never re-runs);
   * each committed micro-batch's hashes then append to it as
   * (nbr, batch, nbr_hash) rows (round 15, the Δ×Δ fix: zero extra
   * decode cost), so later arrivals flag against earlier STREAM
   * arrivals too — cross-batch by arrival order, within one micro-batch
   * by the least-id-canonical convention (no arrival order exists
   * inside a batch; the directed self-join flags exactly one of a
   * same-batch twin pair). Each batch pays its own |Δ| decodes plus the
   * banded bucket join against the standing hashes — Δ×(corpus+stream)
   * through Σf² buckets, never |Δ|·n. The state lives under `outDir`,
   * so a restarted sink resumes with its stream history; batch ids are
   * anti-joined off the standing side, which makes a replayed
   * micro-batch (at-least-once foreachBatch) score identically to its
   * first attempt even when its commit already landed. The state table
   * folds every `compactEvery` batches. The batch analogues are the
   * oracle-gated q_image_dedup / q_audio_dedup / q_video_dedup; the
   * vector analogue [[semanticDedupSink]]; the text analogue
   * [[contentDedupStream]].
   */
  def perceptualDedupSink(newMedia: DataFrame, corpus: DataFrame,
      outDir: String, checkpoint: String,
      hasher: (DataFrame, String, String) => DataFrame,
      idCol: String = "doc_id", mediaCol: String = "media",
      maxHamming: Int = 6, compactEvery: Int = 16): StreamingQuery = {
    import org.apache.spark.sql.{Dataset, Row}
    val bands = maxHamming + 1
    def banded(hashes: DataFrame): DataFrame =
      hashes.select(col("nbr"), col("nbr_hash"),
          explode(graft.functions.TextFunctions.simHashBands(col("nbr_hash"), bands)).as("bk"))
        .select(col("nbr"), col("nbr_hash"), col("bk.band"), col("bk.bucket"))
    def hashRows(hashes: DataFrame, batchId: Long): DataFrame =
      hashes.select(col(idCol).as("nbr"), lit(batchId).as("batch"),
        col("ahash").as("nbr_hash"))
    val state = stateRoot(outDir)
    openState(state, hashRows(hasher(corpus, idCol, mediaCol), -1L))
    val tag = streamTag(checkpoint)
    newMedia.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        // spill the batch hashes ONCE: bh feeds the banded joins, the
        // final left-join's left side AND the state commit, and Spark
        // does not dedupe the common subplan across join inputs —
        // inline, every payload would decode repeatedly per micro-batch
        // (round-13 review)
        val bh = graft.operators.Materialize.viaParquet(
          hasher(batch.toDF(), idCol, mediaCol),
          "img_sink_batch")
        val bKeyed = bh.select(col(idCol).as("id"), col("ahash"),
            explode(graft.functions.TextFunctions.simHashBands(col("ahash"), bands)).as("bk"))
          .select(col("id"), col("ahash"), col("bk.band"), col("bk.bucket"))
        // standing hits (corpus ∪ earlier batches): any direction; batch
        // ids anti-joined off for replay idempotence
        val standingHits = bKeyed
          .join(banded(graft.sources.TxTable.read(spark, state)), Seq("band", "bucket"))
          .join(bh.select(col(idCol).as("nbr")), Seq("nbr"), "left_anti")
          .select(col("id"),
            graft.functions.TextFunctions.hamming64(col("ahash"), col("nbr_hash"))
              .cast("int").as("hamming"), col("nbr"))
        // within-batch hits: lower id is canonical
        val selfHits = bKeyed
          .join(bKeyed.select(col("id").as("nbr"), col("ahash").as("nbr_hash"),
            col("band"), col("bucket")), Seq("band", "bucket"))
          .filter(col("nbr") < col("id"))
          .select(col("id"),
            graft.functions.TextFunctions.hamming64(col("ahash"), col("nbr_hash"))
              .cast("int").as("hamming"), col("nbr"))
        val hits = standingHits.unionByName(selfHits)
          .filter(col("hamming") <= maxHamming)
          .distinct()
        val w = Window.partitionBy(col("id"))
          .orderBy(col("hamming"), col("nbr"))
        val best = hits.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        bh.select(col(idCol).as("id"))
          .join(best, Seq("id"), "left")
          .select(col("id"),
            col("nbr").isNotNull.cast("int").as("is_dup"),
            col("nbr").as("dup_of"), col("hamming"))
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        // the batch's hashes commit AFTER its output — a crash in
        // between replays the batch, which the anti-join above makes
        // idempotent
        commitState(state, hashRows(bh, batchId), batchId, compactEvery, tag)
      }
      .start()
  }

  /** [[perceptualDedupSink]] with the image aHash — the round-13 sink,
    * signature preserved. */
  def imageDedupSink(newImages: DataFrame, corpus: DataFrame, outDir: String,
      checkpoint: String, idCol: String = "doc_id", mediaCol: String = "media",
      maxHamming: Int = 6): StreamingQuery =
    perceptualDedupSink(newImages, corpus, outDir, checkpoint,
      (d, i, m) => graft.operators.Multimodal.imageAHash(d, i, m),
      idCol, mediaCol, maxHamming)

  /** [[perceptualDedupSink]] with the audio energy hash (round 14) —
    * same hamming-6 operating point as the oracle-gated q_audio_dedup
    * (planted twins measure ≤ 1; the radius is banding headroom). */
  def audioDedupSink(newAudio: DataFrame, corpus: DataFrame, outDir: String,
      checkpoint: String, idCol: String = "doc_id", mediaCol: String = "media",
      maxHamming: Int = 6): StreamingQuery =
    perceptualDedupSink(newAudio, corpus, outDir, checkpoint,
      (d, i, m) => graft.operators.Multimodal.audioEnergyHash(d, i, m),
      idCol, mediaCol, maxHamming)

  /** [[perceptualDedupSink]] with the frame-sampled video aHash
    * (round 14): `nSample` frames decoded per clip, the rest skipped as
    * byte ranges — the Δ-side cost per micro-batch is k decodes per
    * clip, not nFrames. */
  def videoDedupSink(newVideo: DataFrame, corpus: DataFrame, outDir: String,
      checkpoint: String, idCol: String = "doc_id", mediaCol: String = "media",
      maxHamming: Int = 6, nSample: Int = 3): StreamingQuery =
    perceptualDedupSink(newVideo, corpus, outDir, checkpoint,
      (d, i, m) => graft.operators.Multimodal.videoAHash(d, i, m, nSample),
      idCol, mediaCol, maxHamming)

  /**
   * Streaming OBSERVABILITY (round 12): a StreamingQueryListener that
   * collects per-micro-batch progress — batch id, input rows,
   * processed-rows/sec, state rows, watermark — into a bounded in-memory
   * buffer the operator can read as a DataFrame. This is the ops
   * dashboard feed every production stream needs (lag detection, state
   * growth alarms, watermark stall diagnosis); at scale the same rows
   * land in a metrics sink instead of memory, but the LISTENER contract
   * is identical. Remove with `spark.streams.removeListener(l)`.
   */
  final class ProgressCollector(maxEntries: Int = 1024)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Long, Double, Long, String)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val stateRows = Option(p.stateOperators).toSeq.flatten
        .map(_.numRowsTotal).sum
      // flatMap over the LOOKED-UP value: a query with no event-time
      // watermark has an empty map, and wrapping the map (not the value)
      // would yield Some(null) → the literal string "null" (r12 review)
      val watermark = Option(p.eventTime)
        .flatMap(m => Option(m.get("watermark"))).getOrElse("")
      // sink rows (round 13): input vs output conservation is the first
      // thing a lag/loss dashboard plots; -1 when the sink doesn't report
      val outRows = Option(p.sink).map(_.numOutputRows).getOrElse(-1L)
      buf.add((p.name, p.batchId, p.numInputRows, outRows,
        p.processedRowsPerSecond, stateRows, watermark))
      while (buf.size > maxEntries) buf.poll() // bounded: drop oldest
      ()
    }
    def toDF(spark: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      import spark.implicits._
      buf.iterator().asScala.toSeq
        .toDF("query_name", "batch_id", "input_rows", "output_rows",
          "rows_per_sec", "state_rows", "watermark")
    }
  }

  /** Drive a streaming DF to completion against a memory sink (local smoke:
    * a batch of parquet fully drains through the streaming engine). */
  def runToMemory(df: DataFrame, name: String, outputMode: String = "append"): StreamingQuery = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(outputMode).start()
    q.processAllAvailable()
    q
  }
}
