package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * A minimal transactional table layout (round 16, hardened round 17) —
 * the sidecar machinery composed into snapshot-isolated commits, so a
 * mutating 100 TB table gets ATOMIC merge-on-read upserts instead of
 * choosing between [[ParquetIO.upsert]]'s copy-on-write rewrite
 * (∝ table) and bare deletion vectors (no atomicity across the
 * delete-then-append pair a CDC batch needs). It is the engine's one
 * commit protocol.
 *
 * Layout, all under one root, all object-store safe (create-once
 * markers only — no rename, no pointer, no listing-freshness
 * assumption):
 *
 * {{{
 *   <root>/data/c<k>/part-….parquet   commit k's added rows (optional)
 *   <root>/_txn/dv/<k>/part-….parquet commit k's deletion vectors (optional)
 *   <root>/_txn/claims/c<k>           id claim (marker EXISTENCE, pre-write)
 *   <root>/_txn/commits/c<k>          the commit bit (marker EXISTENCE)
 * }}}
 *
 * Concurrency contract (round 17): every writer CLAIMS its id first —
 * a create-once marker under `_txn/claims` placed BEFORE any data or
 * vector write. Two racing writers that compute the same next id
 * cannot both claim it: the loser's create-once returns false and it
 * retries with a fresh id having written NOTHING under the contested
 * one, so `mode("overwrite")` can never clobber another writer's
 * directories. Commit-marker creation is likewise REQUIRED to succeed
 * — a pre-existing commit marker for a claimed id means out-of-band
 * interference and fails the operation loudly rather than reporting a
 * commit that may not be this writer's. What the protocol guarantees:
 * no committed data is ever lost or clobbered, and every commit id is
 * written by exactly one writer. Key-level conflict detection is OPT-IN
 * (round 18): [[upsert]] with `conflictDetect = true` validates its key
 * set against every commit it did not see at its read snapshot and
 * retries on intersection (claim-id-ordered optimistic concurrency), so
 * concurrent upserts to the same key serialize; without it, two such
 * upserts both commit (each kills what was live when IT read) and
 * serializable MERGE semantics assume one upserting writer per key
 * space (the CDC-stream premise). [[checkpoint]] fences itself against
 * in-flight writers (frozen fold + abort-on-concurrent-commit);
 * [[compactFiles]]/[[expire]] assume a single maintenance writer, and
 * [[vacuum]]'s grace window keeps it from eating live writers'
 * in-progress ids.
 *
 * A commit is convention, not manifest: marker c<k> present ⟺ commit
 * k's data dir and DV dir (whichever exist) are visible — readers need
 * ONE `_txn/commits` listing. The marker's text is `key=value` fields:
 * `ts=` (wall-clock) always, `txn=<tag>:<batch>` (a stream's replay
 * record, Delta's `txn` action) on stream commits. A writer works
 * data-first: rows into `data/c<k>`, vectors into `_txn/dv/<k>`, and
 * only then the marker — a crash at any earlier point leaves
 * directories no reader resolves and [[vacuum]] later sweeps. The
 * delete-then-append pair of an upsert therefore becomes visible
 * ATOMICALLY: both ride the same k, both appear at marker creation or
 * not at all.
 *
 * Reads: the snapshot is (∪ committed data files) scanned with row
 * identity, minus the OR-fold of ALL committed DV sidecars — read on
 * the driver and applied inside the scan as one codegen'd filter
 * ([[DeleteVectors.applyVectors]]). The scan is built from the files
 * the snapshot listed ([[scanResolved]], [[ParquetIO.merge]]'s S13
 * read), so planning a read lists nothing more and runs no Spark job.
 * [[readAt]] is time travel
 * for free: resolve markers ≤ k only, and a later commit's deletes
 * vanish WITH its adds, keeping historical snapshots exact.
 *
 * [[upsert]] is the merge-on-read MERGE with the full latest-wins
 * contract of [[ParquetIO.upsert]]: latest `versionCol` per key inside
 * the batch, then the batch winner competes against the LIVE row —
 * a live row dies only to a batch winner at `version >= live.version`
 * (batch wins ties, the update-side-wins rule), and a batch winner
 * that loses to a strictly newer live row is dropped entirely, so a
 * late/out-of-order CDC batch can never regress committed data.
 * Cost: one table scan + work ∝ BATCH size — no table rewrite.
 * The batch key set broadcasts below `broadcastKeyLimit` keys and
 * falls back to a shuffled join above it (a backfill is not a CDC
 * batch). At 0.1 %-of-table batches this is the regime where
 * copy-on-write pays 1000× the write volume (SCALE.md round-16
 * `delvec`).
 */
object TxTable {

  private def dataDir(root: String, k: Long) = s"$root/data/c$k"
  private def dvDir(root: String, k: Long) = s"$root/_txn/dv/$k"
  private def commitsDir(root: String) = s"$root/_txn/commits"
  private def claimsDir(root: String) = s"$root/_txn/claims"
  private def checkpointsDir(root: String) = s"$root/_txn/checkpoints"
  private def marker(root: String, k: Long) = s"${commitsDir(root)}/c$k"

  /** The id a log entry's name carries — `<prefix><k>` — if any. */
  private def idOf(st: FileStatus, prefix: String = "c"): Option[Long] = {
    val n = st.getPath.getName
    if (n.length > prefix.length && n.startsWith(prefix) &&
        n.drop(prefix.length).forall(_.isDigit)) Some(n.drop(prefix.length).toLong)
    else None
  }

  /** The ids under `dir` from a FRESH listing, ascending: the next-id
    * scan, the sweeps, and the validation and fence re-lists that must
    * see what landed after their operation's [[Snapshot]]. */
  private def idsIn(dir: String, prefix: String = "c"): Seq[Long] =
    Fs.listOrEmpty(dir).flatMap(idOf(_, prefix)).sorted

  /** Committed ids, ascending — one listing of the commits dir. */
  def committedIds(root: String): Seq[Long] = new Snapshot(root).ids

  /** Committed ids with their marker mtimes, from the SAME one listing —
    * a cheap TABLE IDENTITY beside the tip (round 20): a drop+recreate
    * restarts ids at 0, so `(root, tip)` alone can alias two tables'
    * lifetimes, but `(root, tip, head-mtime)` cannot. */
  private[graft] def commitStats(root: String): Seq[(Long, Long)] =
    new Snapshot(root).commits

  /** Committed CHECKPOINT ids: both the checkpoint marker and the
    * commit marker exist (a checkpoint marker alone is a crashed
    * writer's leftover and resolves to nothing). */
  def checkpointIds(root: String): Seq[Long] = new Snapshot(root).checkpoints

  /** Next free id: past every id any directory or marker — commit,
    * claim, or checkpoint; committed or crashed — has touched, so a
    * crashed or in-flight writer's id is never reused and its leftovers
    * can never be adopted by a later commit. */
  private def nextId(root: String): Long =
    (idsIn(commitsDir(root)) ++ idsIn(claimsDir(root)) ++
      idsIn(checkpointsDir(root)) ++ idsIn(s"$root/data") ++
      idsIn(s"$root/_txn/dv", "") :+ -1L).max + 1

  /** Claim a commit id EXCLUSIVELY, before any write: a create-once
    * marker under `_txn/claims`. A writer that loses the create race
    * (two writers computed the same next id) retries with a fresh id —
    * having written nothing under the contested one, so the winner's
    * directories are never overwritten. The claim marker is litter
    * after a crash; [[vacuum]] sweeps unredeemed claims below the tip. */
  private def claimId(root: String): Long = {
    var attempts = 0
    while (attempts < 64) {
      val k = nextId(root)
      if (Fs.createMarker(s"${claimsDir(root)}/c$k", "claimed")) return k
      attempts += 1
    }
    throw new IllegalStateException(
      s"txtable: could not claim a commit id under $root after 64 attempts")
  }

  /** The commit bit, REQUIRED to be this writer's: under the claim
    * protocol nobody else can be on a claimed id, so a pre-existing
    * commit marker means out-of-band interference — fail the operation
    * loudly instead of reporting an id whose contents may not be ours.
    * The marker CONTENT carries the commit wall-clock (round 20,
    * `ts=<epochMillis>` — an explicit field survives copies/rsyncs whose
    * mtimes do not), recorded at every commit so `TIMESTAMP AS OF` and
    * [[history]]'s `commit_ts` column have data even for tables created
    * long before anyone asks; markers written by pre-stamp code fall
    * back to marker mtime in [[commitTimestamps]]. `txns` adds one
    * `txn=<tag>:<batch>` line per stream record ([[streamBatch]]). */
  private[graft] def commit(root: String, k: Long,
      txns: Seq[(String, Long)] = Nil): Unit =
    require(Fs.createMarker(marker(root, k),
        s"${dataDir(root, k)}\nts=${System.currentTimeMillis()}" +
          txns.map { case (tag, b) => s"\ntxn=$tag:$b" }.mkString),
      s"txtable: commit marker c$k already exists under $root — " +
        "lost a commit race (id written outside the claim protocol?)")

  /** Every committed id with its commit WALL-CLOCK (epoch millis): the
    * marker content's stamped `ts=` field (any commit since round 20),
    * else the marker's copy-fragile mtime. One listing, then one tiny
    * read per marker ([[expire]] keeps the log short). Wall-clocks are
    * the WRITERS' clocks — the skew caveat every TIMESTAMP AS OF carries. */
  private[graft] def commitTimestamps(root: String): Seq[(Long, Long)] =
    new Snapshot(root).timestamps

  /** Wall-clock time travel's ONE binding rule (round 20, shared by SQL
    * `TIMESTAMP AS OF` and the reader's `timestampAsOf` option): the
    * newest commit whose recorded wall-clock is ≤ `tsMillis`. A `t`
    * before the first retained commit fails loudly — history below the
    * expire floor is gone, and serving the oldest snapshot instead
    * would silently misdate it. */
  private[graft] def commitAtTimestamp(root: String, tsMillis: Long): Long = {
    val stamps = commitTimestamps(root)
    stamps.filter(_._2 <= tsMillis).map(_._1).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"txtable: TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(tsMillis)} " +
          s"predates the oldest retained commit of $root " +
          s"(first retained: commit ${stamps.headOption.map(_._1).getOrElse(-1L)} " +
          s"at ${stamps.headOption.map(s => java.time.Instant.ofEpochMilli(s._2))
            .getOrElse("?")}) — earlier history was expired"))
  }

  /** Whether `root` has a commit, and the newest batch stream `tag`
    * committed to it — the replay check behind
    * [[graft.streaming.Streams]]' stream commits — with whether the
    * newest checkpoint carries it (the batch's fold ran); both from one
    * listing of the log. Markers are opened from the tip down, stopping
    * at the first that records `tag` or at the newest checkpoint, whose
    * marker carries the newest record per tag of every marker it folds
    * ([[checkpoint]]), so [[expire]] never erases a stream's record. */
  private[graft] def streamBatch(root: String,
      tag: String): (Boolean, Option[(Long, Boolean)]) = {
    val s = new Snapshot(root)
    val cp = s.checkpoints.lastOption
    (s.ids.nonEmpty, s.ids.reverseIterator.takeWhile(k => cp.forall(_ <= k))
      .flatMap(k => s.txns(k).find(_._1 == tag).map(t => (t._2, cp.contains(k))))
      .nextOption())
  }

  /** The sidecar rows of commits `ks` with their commit ids, read on the
    * driver — behind every DV fold, kill-file list, feed label, history
    * count and conflict domain: one listing of each commit's DV dir
    * through `list` (a [[Snapshot]]'s, or fresh), one open per sidecar. */
  private def dvVectors(root: String, ks: Seq[Long],
      list: String => Seq[FileStatus] = Fs.listOrEmpty(_))
      : Seq[(Long, DeleteVectors.FileVector)] = {
    val conf = Fs.conf()
    val files = ks.flatMap(k =>
      Tools.dataFilesOf(dvDir(root, k), list(dvDir(root, k)), conf).map(k -> _))
    Tools.onDriverPool(files) { case (k, f) => DeleteVectors.readSidecar(f, conf).map(k -> _) }
      .flatten
  }

  /** What ONE operation reads from the log — the reader's footer: one
    * listing of `_txn/commits` (ids, marker mtimes), and the rest derived
    * lazily, each at most once: the checkpoint ids (one listing of
    * `_txn/checkpoints`, always AFTER the commits listing — a checkpoint
    * marker lands before its commit marker, so the reverse order could
    * miss the checkpoint of a visible commit and double-count its rows),
    * the resolution set for any `asOf`, each commit's data files and DV
    * sidecars (one listing of its own dir, [[list]] — never one listing of
    * `data/`, whose staleness could tear a read), and each marker's
    * text. Two listings of the commits dir can straddle a concurrent
    * commit; one cannot, which is what makes an operation
    * atomic. Validation and fences re-list on purpose ([[idsIn]]). `held`
    * keeps the frames a commit persisted; [[commitWith]] unpersists them. */
  private final class Snapshot(val root: String,
      held: scala.collection.mutable.Buffer[DataFrame] =
        scala.collection.mutable.ArrayBuffer.empty[DataFrame]) {

    /** (id, marker mtime) of every commit, ascending by id. */
    val commits: Seq[(Long, Long)] = Fs.listOrEmpty(commitsDir(root))
      .flatMap(st => idOf(st).map(_ -> st.getModificationTime)).sortBy(_._1)

    val ids: Seq[Long] = commits.map(_._1)

    private val listings =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[FileStatus]]()

    /** `dir`'s children, listed once per snapshot (empty when missing). */
    def list(dir: String): Seq[FileStatus] =
      listings.computeIfAbsent(pathKey(dir), _ => Fs.listOrEmpty(dir))

    lazy val checkpoints: Seq[Long] = {
      val committed = ids.toSet
      list(checkpointsDir(root)).flatMap(idOf(_)).sorted.filter(committed.contains)
    }

    def resolved(asOf: Long = Long.MaxValue): Seq[Long] = {
      val all = ids.filter(_ <= asOf)
      checkpoints.filter(_ <= asOf).lastOption
        .map(b => all.filter(_ >= b)).getOrElse(all)
    }

    private val files = new java.util.concurrent.ConcurrentHashMap[Long, Seq[FileStatus]]()

    /** Commit `k`'s data files, hive leaves included, listed once per
      * snapshot (none when it wrote no data dir). */
    def dataFiles(k: Long): Seq[FileStatus] = files.computeIfAbsent(k, _ => {
      val conf = Fs.conf()
      val (fs, dir) = Fs.fileSystem(dataDir(root, k), conf)
      Tools.dataFilesOf(dataDir(root, k),
        try Fs.listLocated(fs, dir) catch { case _: java.io.FileNotFoundException => Nil },
        conf)
    })

    def vectors(ks: Seq[Long]): Seq[(Long, DeleteVectors.FileVector)] =
      dvVectors(root, ks, list)

    /** The OR-folded deletion vectors of the commits `ks`. */
    def dvIndex(ks: Seq[Long]): DeleteVectors.Index =
      DeleteVectors.fold(vectors(ks).map(_._2))

    private val markerTexts =
      new java.util.concurrent.ConcurrentHashMap[Long, Option[String]]()

    /** The values of commit `k`'s `<name>=` marker lines; the marker is
      * opened at most once per snapshot. */
    private def field(k: Long, name: String): Seq[String] =
      markerTexts.computeIfAbsent(k, _ => Fs.readUtf8(marker(root, k))).toSeq
        .flatMap(_.linesIterator).filter(_.startsWith(s"$name="))
        .map(_.stripPrefix(s"$name=").trim)

    /** (id, commit wall-clock): see [[commitTimestamps]]. */
    lazy val timestamps: Seq[(Long, Long)] =
      Tools.onDriverPool(commits) { case (k, mtime) =>
        k -> field(k, "ts").flatMap(_.toLongOption).headOption.getOrElse(mtime)
      }

    /** The stream records — (tag, batch) — commit `k`'s marker carries. */
    def txns(k: Long): Seq[(String, Long)] = field(k, "txn").flatMap { v =>
      val i = v.lastIndexOf(':')
      v.drop(i + 1).toLongOption.filter(_ => i > 0).map(v.take(i) -> _)
    }

    /** The newest batch of every stream tag recorded in commits `ks`. */
    def newestTxns(ks: Seq[Long]): Seq[(String, Long)] =
      Tools.onDriverPool(ks)(txns).flatten
        .groupMapReduce(_._1)(_._2)(math.max).toSeq.sorted

    def cache(df: DataFrame): DataFrame = {
      held += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }
  }

  /** Data write under the default [[ParquetIO.WriteOptions]] with
    * optional parquet bloom filters on `bloomCols` — the write-side half
    * of [[readSkippingEquality]]'s point-lookup path
    * ([[ParquetIO.configured]]) — and optional HIVE
    * PARTITIONING on `partitionCols` (round 18): each commit's data dir
    * lays out as `c<k>/<col>=<val>/…`, so partition pruning composes
    * with the commit log (Catalyst's `PartitionFilters` cut directories
    * inside every resolved commit before any footer or bloom is read).
    * Blooms are writer options, so the two compose. TYPE caveat
    * (inherent to hive layout — directory names carry no type, and this
    * table is convention-not-manifest by design): partition VALUES come
    * back through Spark's partition inference, so a numeric partition
    * column written as LONG reads back INT when its values fit —
    * partition on strings or accept the inferred type, the same rule as
    * any hive-layout table (CdcPropertySpec pins value equality across
    * the two layouts). */
  private def writeData(df: DataFrame, path: String,
      bloomCols: Seq[String], partitionCols: Seq[String] = Seq.empty,
      precluster: Boolean = true): Unit = {
    val w = if (partitionCols.isEmpty) {
      // REBALANCE flat commits too (round 21, guide §6): a map-only
      // batch (create/append, the anti-joined adds when the planner
      // keeps scan partitioning) otherwise writes one file PER INPUT
      // SPLIT — ~32 KB-sized files per commit at bench scale, and
      // unsized files at any scale — and every subsequent snapshot
      // read pays the listing + footer + task fan-out again. The
      // rebalance hint lets AQE size output partitions to the advisory
      // target (~64 MB default): one file per commit locally, sized
      // files at 100 TB — the same role Iceberg's write
      // distribution-mode plays. checkpoint/compactFiles pass
      // precluster = false (their input already carries the byte-target
      // layout), and a batch whose plan carries an EXPLICIT layout —
      // any repartition/rebalance/sort — is honored verbatim: a caller
      // that range-sorted its create for file-level pruning declared
      // the file layout on purpose, and round-robin sizing would
      // silently destroy it.
      import org.apache.spark.sql.catalyst.plans.logical.{
        RebalancePartitions, RepartitionOperation, Sort}
      val explicitLayout = df.queryExecution.logical.exists {
        case _: RepartitionOperation | _: RebalancePartitions | _: Sort => true
        case _ => false
      }
      val sized =
        if (precluster && !explicitLayout) df.hint("rebalance") else df
      sized.write
    } else {
      require(partitionCols.forall(df.columns.contains),
        s"txtable: partition columns ${partitionCols.mkString(",")} missing from batch")
      // PRE-CLUSTER by default (round 19, r18 verdict #5): without it a
      // partitioned write fans out to ~tasks x values files per commit
      // (SCALE.md measured ~800 at 25 partitions). REBALANCE clusters
      // rows by partition value AND lets AQE split oversized groups at
      // the advisory partition size — ~one file per (value, size
      // target). checkpoint/compactFiles pass precluster = false: their
      // input is already repartitioned to the byte-target layout, and a
      // second exchange would undo it.
      val clustered =
        if (precluster) df.hint("rebalance", partitionCols: _*) else df
      clustered.write.partitionBy(partitionCols: _*)
    }
    ParquetIO.configured(w.mode("overwrite"), ParquetIO.WriteOptions(), bloomCols).parquet(path)
  }

  /** The one row-identified scan of a snapshot: the listed data files
    * of the commits `ks` that `keep` admits — all, or the subset a
    * skipping read, the feed's kill scan or a file fold keeps — as
    * [[ParquetIO.readByName]] roots in commit order, commits with no
    * file left out; Spark reads exactly these files and lists nothing.
    * Commits with one schema and one partition layout are one multi-dir
    * scan, drifted ones union by name (missing columns null, oldest
    * commit's columns leading); a hive commit's partition columns come
    * from its directory names, and pruning reaches each scan through
    * the union. */
  private def scanResolved(spark: SparkSession, s: Snapshot, ks: Seq[Long],
      keep: FileStatus => Boolean = _ => true): DataFrame =
    ParquetIO.readByName(spark, ks.map(k => dataDir(s.root, k) -> s.dataFiles(k).filter(keep))
      .filter(_._2.nonEmpty), DeleteVectors.withRowId)

  /** The one file → commit rule: a data file of commit k sits under
    * `…/data/c<k>/`, flat or below its hive partition dirs. */
  private val commitOfFile = "^.*/data/c(\\d+)/"

  /** The commit a data file path belongs to, on the driver. */
  private def commitOf(file: String): Option[Long] =
    commitOfFile.r.findFirstMatchIn(file).map(_.group(1).toLong)

  /** Create the table: the initial snapshot becomes commit 0.
    * `partitionCols` (round 18) lays the commit out hive-partitioned —
    * subsequent writes should pass the same columns (each commit's
    * layout is independent; readers reconcile by name either way). An
    * EMPTY initial snapshot must be created FLAT (partitionCols off): a
    * partitioned write of zero rows leaves no schema-bearing file, while
    * the flat empty file records the schema — the txtable stream sink's
    * first-batch pattern ([[graft.streaming.Streams.txUpsertBatch]]). */
  def create(spark: SparkSession, root: String, df: DataFrame,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty): Long =
    commitWith(spark, root) { s =>
      require(s.ids.isEmpty,
        s"txtable: $root already has commits — use append/upsert")
      Some(_ => Legs(adds = Some(df), bloomCols = bloomCols,
        partitionCols = partitionCols, prune = false))
    }.get

  /** Blind append (no keys touched): one data dir, one marker. An
    * append can never lose an update itself (it kills nothing), so it
    * needs no validation loop — but next to OPTIMISTIC upserts a bare
    * append is a sidecar-less commit that forces every concurrent
    * validator into a conservative retry. `conflictKeys` (round 19)
    * makes the append a protocol PARTICIPANT: its distinct key set is
    * written as the same `_txn/keys/<k>` sidecar an optimistic upsert
    * records, so a concurrent upsert retries only on a REAL key
    * intersection (the appended rows would otherwise duplicate its
    * keys) and sails through on disjoint ones. */
  def append(spark: SparkSession, root: String, df: DataFrame,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      conflictKeys: Seq[String] = Seq.empty): Long =
    appendAs(spark, root, df, bloomCols, partitionCols, conflictKeys, Nil)

  /** [[append]] with stream records on its marker ([[streamBatch]]). */
  private[graft] def appendAs(spark: SparkSession, root: String, df: DataFrame,
      bloomCols: Seq[String], partitionCols: Seq[String],
      conflictKeys: Seq[String], txns: Seq[(String, Long)]): Long = {
    require(conflictKeys.forall(df.columns.contains),
      s"txtable.append: conflictKeys ${conflictKeys.mkString(",")} " +
        s"missing from batch (${df.columns.mkString(",")})")
    commitWith(spark, root) { _ =>
      Some(_ => Legs(adds = Some(df), bloomCols = bloomCols,
        partitionCols = partitionCols, prune = false,
        keys = Some(conflictKeys).filter(_.nonEmpty)
          .map(ks => df.select(ks.map(col): _*).distinct()), txns = txns))
    }.get
  }

  /** The live snapshot at the latest commit. */
  def read(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, Long.MaxValue)

  /** Time travel: the snapshot as of commit `asOf` — commits after it,
    * their adds AND their deletes, do not exist for this reader.
    * Resolution starts from the newest committed CHECKPOINT ≤ `asOf`
    * (the checkpoint's data dir IS the folded history before it), so a
    * long-lived table's read plan covers checkpoint + tail, not every
    * commit ever made. */
  def readAt(spark: SparkSession, root: String, asOf: Long): DataFrame =
    liveAt(spark, new Snapshot(root), asOf)

  /** The live rows of `s` as of `asOf`: its resolved data files
    * scanned, minus its resolved deletion vectors. */
  private def liveAt(spark: SparkSession, s: Snapshot,
      asOf: Long = Long.MaxValue): DataFrame = {
    val ks = s.resolved(asOf)
    require(ks.nonEmpty, s"txtable: no commits ≤ $asOf under ${s.root}")
    require(ks.exists(s.dataFiles(_).nonEmpty), s"txtable: no data files among commits ≤ $asOf")
    DeleteVectors.applyVectors(scanResolved(spark, s, ks), s.dvIndex(ks))
  }

  /** The live rows of the snapshot `s` WITH row identity
    * (`__dv_file`, `__dv_row`) — what every kill leg marks dead. */
  private def liveWithId(spark: SparkSession, s: Snapshot): DataFrame = {
    val rks = s.resolved()
    DeleteVectors.applyVectorsKeepId(scanResolved(spark, s, rks), s.dvIndex(rks))
  }

  private def keysDir(root: String, k: Long) = s"$root/_txn/keys/$k"

  /** Driver-side footer row count of a just-written commit dir — the
    * post-write emptiness decision costs footer reads (bounded by the
    * BATCH-sized file count), never a Spark job: the old `isEmpty`
    * probes re-executed the plan that produced the files (the adds
    * anti-join ran twice per upsert — round-18 profile). */
  private def writtenRows(dir: String): Long = {
    val conf = Fs.conf()
    // PARALLEL footer reads (round 19, r18 verdict's wrong #2): a
    // hive-partitioned commit writes ~tasks x values files, and each
    // footer is an independent open+read round-trip
    Tools.onDriverPool(Tools.dataFilesOf(dir, Fs.listOrEmpty(dir, conf), conf))(
      footerRows(_, conf)).sum
  }

  /** A data file's row count, from its footer. */
  private def footerRows(f: FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    import scala.jdk.CollectionConverters._
    Tools.withFooter(f, conf)(_.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
  }

  /** Driver-side CDC-batch size shortcut for the broadcast gates
    * (round 21): when the optimizer's size estimate for the batch plan
    * is comfortably under broadcast scale, skip the `count()` job the
    * gate otherwise runs per commit. Estimates only ever SHRINK the
    * set of counted batches — an estimate above the bar still counts,
    * and the 8 MB bar is far below any row count that could threaten
    * the 4M-key broadcast limit (rows are > 2 bytes).
    *
    * GUARD (round 22, r21 verdict #4): catalyst shrinks a plan's
    * estimate below its leaves' only through selectivity GUESSES
    * (filter fractions, join selectivity) — exactly the estimates that
    * under-estimate a selective-filter backfill into "broadcastable".
    * The shortcut therefore fires only when the plan carries no Filter
    * at all (the estimate is then leaf-derived, reliable) OR every leaf
    * is itself under the bar (whatever the guesses say, at most 8 MB of
    * source rows feed the batch; the keys projection cannot exceed it).
    * Under the cost-based optimizer (`spark.sql.cbo.enabled`) a Join or
    * Aggregate estimate comes from column-stat guesses too — two big
    * leaves whose key ranges miss each other estimate near zero rows —
    * so those nodes count as guesses as well. Anything else falls back
    * to the exact `count()` gate. */
  private[graft] def smallByStats(df: DataFrame): Boolean = {
    val bar = BigInt(8L * 1024 * 1024)
    val plan = df.queryExecution.optimizedPlan
    if (plan.stats.sizeInBytes > bar) return false
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val cbo = df.sparkSession.conf.get("spark.sql.cbo.enabled", "false").toBoolean
    val guessy = plan.exists {
      case _: Filter => true
      case _: Join | _: Aggregate => cbo
      case _ => false
    }
    !guessy || plan.collectLeaves().forall(_.stats.sizeInBytes <= bar)
  }

  /** The default batch key count up to which a MERGE broadcasts its keys. */
  private[graft] val broadcastKeys: Long = 4L * 1000 * 1000

  /** A conflicting concurrent commit was detected during an optimistic
    * [[upsert]] — the writer retries from a fresh snapshot. */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  /** What one commit writes under its claimed id, for [[commitWith]]:
    *
    *  - `kills`: live rows (carrying `__dv_file`/`__dv_row`) this commit
    *    marks dead — the DV leg, `_txn/dv/<k>`;
    *  - `adds`: rows this commit adds — the data leg, `data/c<k>`, laid
    *    out by [[writeData]] with `bloomCols`/`partitionCols`/`precluster`;
    *  - `check`: a result-free leg beside the writes (MERGE's
    *    duplicate-key test);
    *  - `keys`: the OCC key sidecar, `_txn/keys/<k>`;
    *  - `validate`: the operation's own test — key sidecars, file
    *    identity, or a maintenance fence — after the legs and the
    *    pruning, before the marker;
    *  - `prune`: remove a leg dir that holds no rows (off where the dir
    *    itself matters: create's schema-bearing empty file, a checkpoint);
    *  - `checkpoint`: place the checkpoint marker before the commit
    *    marker;
    *  - `txns`: the stream records the commit marker carries. */
  private final case class Legs(
      kills: Option[DataFrame] = None,
      adds: Option[DataFrame] = None,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      precluster: Boolean = true,
      check: Option[() => Unit] = None,
      keys: Option[DataFrame] = None,
      validate: () => Unit = () => (),
      prune: Boolean = true,
      checkpoint: Boolean = false,
      txns: Seq[(String, Long)] = Nil)

  /** Run a commit's independent legs together (round 22, guide §2.6):
    * the protocol orders every leg before the marker but never legs
    * among themselves, so their per-action fixed costs (job scheduling,
    * AQE stage materialization, output commit) overlap. Frames the legs
    * share are safe under concurrent first materialization: the block
    * manager serializes per-partition cache writes. Each leg runs with
    * the caller's Spark thread-locals (job group, description, active
    * session), on [[Tools.driverPool]], under the job description
    * `txtable c<k> <leg>`, inline when it is the only one. EVERY leg
    * completes before the first failure propagates — the abandon path
    * must never race a leg still writing. */
  private def runLegs(spark: SparkSession, k: Long,
      named: Seq[(String, () => Unit)]): Unit = {
    val legs = named.map { case (name, leg) =>
      () => Tools.withJobDescription(spark, s"txtable c$k $name")(leg()) }
    if (legs.size <= 1) legs.foreach(_())
    else {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val futures = legs.map(leg => org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(session, Tools.driverPool)(leg()))
      val errs = futures.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(Option(e.getCause).getOrElse(e))
        }
      }
      errs.headOption.foreach(e => throw e)
    }
  }

  /**
   * The ONE commit sequence every writer runs — data first, marker last,
   * the order of the paper's row groups before the footer:
   *
   *  1. the snapshot listing and the claim. `plan` sees the snapshot and
   *     returns the legs for the claimed id, or `None` to commit nothing.
   *     The DML writers list, then claim (their pre-claim checks fail
   *     with nothing claimed); [[checkpoint]] claims, then lists
   *     (`claimFirst`), so its fold freezes at ids below its own claim;
   *  2. the legs, together ([[runLegs]]): kills, adds, check, key sidecar;
   *  3. pruning of legs that wrote no rows, then the operation's own
   *     validation;
   *  4. the checkpoint marker when asked, then the commit marker.
   *
   * ANY failure after the claim and before the marker — a misspelled
   * column met while planning the legs, a failed leg, a conflict, a
   * fence, a marker write that throws — ABANDONS the id: its data, DV
   * and key dirs (and a checkpoint marker) go first and the claim last,
   * so peers waiting on the claim unblock at once and nothing is left
   * for [[vacuum]] to age out. A commit marker that already exists is
   * [[commit]]'s loud out-of-band failure and deletes nothing.
   */
  private def commitWith(spark: SparkSession, root: String,
      claimFirst: Boolean = false)(
      plan: Snapshot => Option[Long => Legs]): Option[Long] = {
    def abandon(k: Long): Unit =
      if (!Fs.exists(marker(root, k))) {
        Seq(dataDir(root, k), dvDir(root, k), keysDir(root, k))
          .foreach(d => Fs.deleteRecursive(new org.apache.hadoop.fs.Path(d)))
        Fs.deleteIfExists(s"${checkpointsDir(root)}/c$k")
        Fs.deleteIfExists(s"${claimsDir(root)}/c$k")
      }
    def pruneIfEmpty(dir: String): Unit =
      if (writtenRows(dir) == 0L)
        Fs.deleteRecursive(new org.apache.hadoop.fs.Path(dir))
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var claimed = if (claimFirst) Some(claimId(root)) else None
    try plan(new Snapshot(root, held)) match {
      case None =>
        claimed.foreach(abandon)
        None
      case Some(legsFor) =>
        val k = claimed.getOrElse(claimId(root))
        claimed = Some(k)
        val legs = legsFor(k)
        runLegs(spark, k, Seq(
          legs.kills.map(kdf => "kills" -> (() => DeleteVectors.buildVectors(
              kdf.select(col("__dv_file").as("file_path"), col("__dv_row").as("ri")))
            .write.mode("overwrite").parquet(dvDir(root, k)))),
          legs.adds.map(adf => "adds" -> (() => writeData(adf, dataDir(root, k),
            legs.bloomCols, legs.partitionCols, legs.precluster))),
          legs.check.map("check" -> _),
          legs.keys.map(kdf => "keys" -> (() =>
            kdf.write.mode("overwrite").parquet(keysDir(root, k))))).flatten)
        if (legs.prune) {
          if (legs.kills.nonEmpty) pruneIfEmpty(dvDir(root, k))
          if (legs.adds.nonEmpty) pruneIfEmpty(dataDir(root, k))
        }
        legs.validate()
        if (legs.checkpoint)
          require(Fs.createMarker(s"${checkpointsDir(root)}/c$k", dataDir(root, k)),
            s"txtable: checkpoint marker c$k already exists under $root — " +
              "lost a commit race")
        commit(root, k, legs.txns)
        Some(k)
    } catch {
      case e: Throwable =>
        claimed.foreach(abandon)
        throw e
    } finally held.foreach(_.unpersist())
  }

  /**
   * Merge-on-read MERGE of one CDC batch, committed atomically:
   * latest `versionCol` per `keys` wins inside the batch; each winner
   * then competes against the LIVE rows of its key — a live row is
   * marked dead (deletion vectors under this commit's id) only by a
   * winner at `version >= live.version` (batch wins ties — the
   * [[ParquetIO.upsertWrite]] update-side-wins rule), and a winner
   * that loses to a strictly newer live row is dropped, so a late or
   * out-of-order batch never regresses newer committed data. Winners
   * whose `opCol` is not "d" are appended as this commit's data dir;
   * the marker lands last. Returns the commit id. A crash before the
   * marker leaves the snapshot byte-identical. A batch that changes
   * NOTHING (every winner loses to newer live data) still commits — an
   * EMPTY commit, marker only — so the returned id is always a real,
   * replayable log position (a change-feed cursor, a [[history]] row),
   * never an unredeemed claim (round-18, closing the round-17 finding).
   *
   * The batch key set broadcasts when the batch has at most
   * `broadcastKeyLimit` winners; above that (a backfill, not a CDC
   * batch) the contested-row join falls back to the shuffled plan.
   *
   * CONCURRENCY (round 18): with `conflictDetect = true` the upsert is
   * OPTIMISTIC — it records its winners' key set as a sidecar
   * (`_txn/keys/<k>`) and, before creating the commit marker, validates
   * that no commit it did not see at its read snapshot touches an
   * intersecting key; on conflict it abandons the claimed id (dirs and
   * claim removed) and retries from a fresh snapshot, so two concurrent
   * upserts to the same key serialize instead of both committing — the
   * Delta/Iceberg optimistic-concurrency contract, ordered by claim id
   * (a writer only validates DOWNWARD; writers above it wait on its
   * resolution). Requirements, documented not enforced: every
   * concurrent upserting writer must pass `conflictDetect = true` (the
   * key sidecar is what others validate against — a commit WITHOUT one
   * inside the validation window is treated as conflicting, one
   * conservative retry); and claim-marker mutual exclusion must hold on
   * the store ([[Fs.createMarker]]'s scheme table). A writer stalled
   * longer than `conflictWaitMs` past its claim is presumed crashed by
   * waiting peers — and symmetrically validates UPWARD at its own
   * commit ([[validateClaim]]'s zombie closure). With the default
   * `conflictDetect = false` the round-17 contract stands: one
   * upserting writer per key space.
   */
  def upsert(spark: SparkSession, root: String, batch: DataFrame,
      keys: Seq[String], versionCol: String,
      opCol: Option[String] = None,
      bloomCols: Seq[String] = Seq.empty,
      broadcastKeyLimit: Long = broadcastKeys,
      partitionCols: Seq[String] = Seq.empty,
      conflictDetect: Boolean = false,
      conflictWaitMs: Long = 60L * 1000): Long =
    upsertAs(spark, root, batch, keys, versionCol, opCol, bloomCols,
      broadcastKeyLimit, partitionCols, conflictDetect, conflictWaitMs, Nil)

  /** [[upsert]] with stream records on its marker ([[streamBatch]]). */
  private[graft] def upsertAs(spark: SparkSession, root: String,
      batch: DataFrame, keys: Seq[String], versionCol: String,
      opCol: Option[String], bloomCols: Seq[String], broadcastKeyLimit: Long,
      partitionCols: Seq[String], conflictDetect: Boolean,
      conflictWaitMs: Long, txns: Seq[(String, Long)]): Long = {
    require(keys.nonEmpty, "txtable.upsert needs key columns")
    retryOnConflict("upsert", root, conflictDetect) {
      commitWith(spark, root) { s =>
        require(s.ids.nonEmpty, s"txtable: create $root before upserting")
        if (conflictDetect) Fs.warnIfNonAtomic(root, "upsert(conflictDetect)")
        Some { k =>
          // batch-internal winner per key: latest version, tombstones
          // eligible. Persisted ONCE — the broadcast-gate count, the
          // contested join's key side, the adds anti-join, and the key
          // sidecar all consume it (round-17 finding #2)
          val w = Window.partitionBy(keys.map(col): _*)
            .orderBy(col(versionCol).desc)
          val winners = s.cache(batch
            .withColumn("__tx_rn", row_number().over(w))
            .filter(col("__tx_rn") === 1).drop("__tx_rn"))
          // contested live rows: one snapshot scan joined against the
          // batch's (key, winner-version) set — broadcast below the key
          // limit, the shuffled plan above it
          val keyed = winners.select(
            keys.map(col) :+ col(versionCol).as("__tx_wv"): _*)
          val keySide =
            if (smallByStats(batch) || winners.count() <= broadcastKeyLimit)
              broadcast(keyed) else keyed
          val cand = s.cache(liveWithId(spark, s).join(keySide, keys))
          // winners that LOSE to a strictly newer live row are dropped —
          // the live side's latest-wins leg; tombstones drop their key
          val beaten = cand.filter(col(versionCol) > col("__tx_wv"))
            .select(keys.map(col): _*).distinct()
          val adds = winners.join(beaten, keys, "left_anti")
          // the key summary others validate against — ALL batch keys
          // (tombstones included: a delete conflicts with an update)
          val batchKeys = winners.select(keys.map(col): _*).distinct()
          Legs(
            // live rows the batch winner beats (ties to the batch) die
            kills = Some(cand.filter(col("__tx_wv") >= col(versionCol))),
            adds = Some(opCol.map(c => adds.filter(col(c) =!= "d").drop(c))
              .getOrElse(adds)),
            bloomCols = bloomCols, partitionCols = partitionCols,
            keys = if (conflictDetect) Some(batchKeys) else None,
            validate = () => if (conflictDetect)
              validateNoKeyConflicts(spark, root, k, s.ids.toSet, batchKeys,
                keys, conflictWaitMs),
            txns = txns)
        }
      }.get
    }
  }

  /**
   * Atomic FULL REPLACE as one commit (round 19 — the `INSERT
   * OVERWRITE` / `mode("overwrite")` semantics behind the DSv2 write):
   * this commit's deletion vectors kill every row live at its snapshot
   * and its data dir carries the replacement — visible atomically at
   * the marker like any commit, with history intact ([[readAt]] below
   * the overwrite still serves the old table; [[checkpoint]]+[[expire]]
   * reclaim it on the normal cadence). Cost: one snapshot scan for the
   * row ids + the new data's write — never a directory swap, so
   * concurrent readers at the old snapshot are undisturbed.
   */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty): Long =
    commitWith(spark, root) { s =>
      require(s.ids.nonEmpty, s"txtable: create $root before overwriting")
      Some(_ => Legs(kills = Some(liveWithId(spark, s)),
        adds = Some(df), bloomCols = bloomCols, partitionCols = partitionCols))
    }.get

  /**
   * SQL-semantics MERGE (round 19) with the standard unconditional
   * clauses, as a translation onto [[mergeClauses]]:
   *
   *  - `matchedAction = "update"`: WHEN MATCHED THEN UPDATE SET *
   *    ([[MatchedUpdateAll]]);
   *  - `matchedAction = "delete"`: WHEN MATCHED THEN DELETE
   *    ([[MatchedDelete]]);
   *  - `insertNotMatched`: WHEN NOT MATCHED THEN INSERT * ([[InsertAll]]);
   *  - `deleteNotMatchedBySource`: WHEN NOT MATCHED BY SOURCE THEN
   *    DELETE ([[BySourceDelete]]) — the full-sync replication shape.
   *
   * Unlike [[upsert]] there is no version column: SQL MERGE is
   * UNCONDITIONAL (the batch wins every matched row), and the SQL
   * cardinality contract applies — a source with duplicate keys fails
   * loudly when a matched action exists. With no clause at all
   * (`"none"`, no insert, no by-source delete) the call commits an
   * EMPTY commit. Cost, sizing and `conflictDetect` are
   * [[mergeClauses]]'s.
   */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], matchedAction: String = "update",
      insertNotMatched: Boolean = true,
      deleteNotMatchedBySource: Boolean = false,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      broadcastKeyLimit: Long = broadcastKeys,
      conflictDetect: Boolean = false,
      conflictWaitMs: Long = 60L * 1000): Long = {
    val matched = matchedAction match {
      case "update" => Seq(MatchedUpdateAll())
      case "delete" => Seq(MatchedDelete())
      case "none" => Seq.empty
      case other => throw new IllegalArgumentException(
        s"txtable.mergeInto: matchedAction must be update|delete|none, got $other")
    }
    merge("mergeInto", spark, root, source, keys, matched,
      if (insertNotMatched) Seq(InsertAll()) else Seq.empty,
      if (deleteNotMatchedBySource) Seq(BySourceDelete()) else Seq.empty,
      bloomCols, partitionCols, broadcastKeyLimit, conflictDetect,
      conflictWaitMs)
  }

  /** Clause ADT for [[mergeClauses]] — the FULL SQL MERGE surface
    * (round 20, the r19 verdict's top ask). Conditions and assignment
    * values are ordinary [[Column]]s evaluated over the matched pair
    * with the target row in scope as alias `t` and the source row as
    * alias `s` (`expr("s.op = 'D'")`, `col("t.price") + col("s.delta")`);
    * NOT MATCHED clauses see only `s`, NOT MATCHED BY SOURCE only `t` —
    * a reference outside the clause's scope fails analysis loudly, the
    * same scoping SQL itself enforces. Within each group, clauses fire
    * in ORDER: the first whose condition holds applies, later ones are
    * never evaluated for that row, and a row no clause fires for is
    * untouched — the SQL MERGE clause contract. */
  sealed trait MergeMatchedClause { def condition: Option[Column] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, … — columns
    * absent from `set` keep the target row's value. */
  final case class MatchedUpdate(set: Map[String, Column],
      condition: Option[Column] = None) extends MergeMatchedClause
  /** WHEN MATCHED [AND cond] THEN UPDATE SET * — every column from the
    * same-named source column. */
  final case class MatchedUpdateAll(condition: Option[Column] = None)
      extends MergeMatchedClause
  /** WHEN MATCHED [AND cond] THEN DELETE */
  final case class MatchedDelete(condition: Option[Column] = None)
      extends MergeMatchedClause

  sealed trait MergeInsertClause { def condition: Option[Column] }
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs) —
    * table columns absent from `values` insert NULL, the SQL contract. */
  final case class InsertValues(values: Map[String, Column],
      condition: Option[Column] = None) extends MergeInsertClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT * */
  final case class InsertAll(condition: Option[Column] = None)
      extends MergeInsertClause

  sealed trait MergeBySourceClause { def condition: Option[Column] }
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET col = expr */
  final case class BySourceUpdate(set: Map[String, Column],
      condition: Option[Column] = None) extends MergeBySourceClause
  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE */
  final case class BySourceDelete(condition: Option[Column] = None)
      extends MergeBySourceClause

  /**
   * Full-fidelity SQL MERGE (round 20) — clause-level conditions,
   * per-column assignment lists, conditional inserts, and NOT MATCHED
   * BY SOURCE update/delete, all in ONE committed kill+add pair:
   *
   * {{{
   *   TxTable.mergeClauses(spark, root, cdc, Seq("id"),
   *     matched = Seq(
   *       MatchedDelete(Some(expr("s.op = 'D'"))),
   *       MatchedUpdate(Map("price" -> expr("s.price"),
   *                         "status" -> lit("R")))),
   *     notMatched = Seq(
   *       InsertAll(Some(expr("s.op <> 'D'")))))
   * }}}
   *
   * Semantics are the SQL standard's: per matched (target, source) pair
   * the FIRST matched clause whose condition holds applies (UPDATE
   * kills the target row and adds the reassigned one, DELETE kills it,
   * no clause → untouched); per unmatched source row the first insert
   * clause whose condition holds inserts (unassigned columns NULL);
   * per target row with no source key match the first BY SOURCE clause
   * applies. Assignments cast to the target column's type — SQL
   * assignment semantics, and it keeps every commit's parquet schema
   * identical to the table's. The cardinality contract holds whenever a
   * matched clause exists: duplicate source keys fail loudly. That check
   * runs as a leg BESIDE the kill and add writes (round 22), not before
   * them: a duplicate-key source costs one full batch write, which the
   * failure then abandons.
   *
   * COST: the matched side is ONE inner join of the snapshot scan
   * against the source (broadcast below `broadcastKeyLimit` source
   * rows), evaluated once and reused for kills, every update leg, and
   * the insert anti-join's key set — work ∝ source size. BY SOURCE
   * clauses add one anti-join pass over the snapshot — inherently
   * table-wide, the full-sync shape, so pay it only when such clauses
   * exist. `conflictDetect` records the source key set as the OCC
   * sidecar like [[upsert]]; under BY SOURCE clauses a concurrent
   * disjoint-key writer serializes BEFORE the merge (its key survives —
   * the merge-then-writer order), a valid serial history.
   */
  def mergeClauses(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeMatchedClause] = Seq.empty,
      notMatched: Seq[MergeInsertClause] = Seq.empty,
      bySource: Seq[MergeBySourceClause] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      broadcastKeyLimit: Long = broadcastKeys,
      conflictDetect: Boolean = false,
      conflictWaitMs: Long = 60L * 1000): Long = {
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "txtable.mergeClauses: no clauses — nothing to do")
    merge("mergeClauses", spark, root, source, keys, matched, notMatched,
      bySource, bloomCols, partitionCols, broadcastKeyLimit, conflictDetect,
      conflictWaitMs)
  }

  /** The MERGE engine behind [[mergeClauses]] and [[mergeInto]]; `what`
    * names the caller in errors. No clause at all commits an EMPTY
    * commit. */
  private def merge(what: String, spark: SparkSession, root: String,
      source: DataFrame, keys: Seq[String],
      matched: Seq[MergeMatchedClause], notMatched: Seq[MergeInsertClause],
      bySource: Seq[MergeBySourceClause], bloomCols: Seq[String],
      partitionCols: Seq[String], broadcastKeyLimit: Long,
      conflictDetect: Boolean, conflictWaitMs: Long): Long = {
    require(keys.nonEmpty, s"txtable.$what needs key columns")
    require(keys.forall(source.columns.contains),
      s"txtable.$what: keys ${keys.mkString(",")} missing from source")
    retryOnConflict(what, root, conflictDetect) {
      commitWith(spark, root) { s =>
        require(s.ids.nonEmpty, s"txtable: create $root before merging")
        if (conflictDetect) Fs.warnIfNonAtomic(root, s"$what(conflictDetect)")
        Some { k =>
          val src = s.cache(source)
          val srcKeys = src.select(keys.map(col): _*).distinct()
          // one size gate feeds every broadcast decision: a backfill-sized
          // MERGE falls back to shuffled joins everywhere
          val srcSmall = smallByStats(source) || src.count() <= broadcastKeyLimit
          def small(df: DataFrame): DataFrame = if (srcSmall) broadcast(df) else df
          val live = liveWithId(spark, s)
          val tableCols = live.columns
            .filterNot(c => c == "__dv_file" || c == "__dv_row").toSeq
          val colType = live.schema.fields.map(f => f.name -> f.dataType).toMap
          def requireAll(clause: String, assigned: Iterable[String]): Unit = {
            val unknown = assigned.filterNot(tableCols.contains)
            require(unknown.isEmpty,
              s"txtable.$what: $clause names columns not in the table: " +
                s"${unknown.mkString(",")} (table: ${tableCols.mkString(",")})")
          }
          def starSet: Map[String, Column] = {
            val missing = tableCols.filterNot(source.columns.contains)
            require(missing.isEmpty,
              s"txtable.$what: source is missing table columns " +
                s"${missing.mkString(",")} (INSERT */UPDATE SET * need all of them)")
            tableCols.map(c => c -> col(s"s.$c")).toMap
          }
          // the first clause whose condition holds fires: 1-based index,
          // 0 = no clause — ONE codegen'd CASE evaluated per row
          def clauseIndex(conds: Seq[Option[Column]]): Column =
            conds.zipWithIndex.foldLeft(Option.empty[Column]) {
              case (acc, (c, i)) =>
                val cond = c.getOrElse(lit(true))
                Some(acc.map(_.when(cond, lit(i + 1)))
                  .getOrElse(when(cond, lit(i + 1))))
            }.map(_.otherwise(lit(0))).getOrElse(lit(0))
          def on(l: String, r: String): Column =
            keys.map(c => col(s"$l.$c") === col(s"$r.$c")).reduce(_ && _)
          // MATCHED side: one target×source inner join, persisted — it
          // feeds the kills, every update leg, and the insert anti-join's
          // matched-key set
          val matchedEval: Option[DataFrame] =
            if (matched.isEmpty && notMatched.isEmpty) None
            else Some(s.cache(live.alias("t")
              .join(small(src.alias("s")), on("t", "s"), "inner")
              .withColumn("__mc", clauseIndex(matched.map(_.condition)))))
          // BY SOURCE side: target rows with no source key — one
          // anti-join pass over the snapshot, only when such clauses exist
          val bySourceEval: Option[DataFrame] =
            if (bySource.isEmpty) None
            else Some(live.alias("t")
              .join(small(srcKeys).alias("sk"), on("t", "sk"), "left_anti")
              .withColumn("__bc", clauseIndex(bySource.map(_.condition))))
          val kills = (matchedEval.filter(_ => matched.nonEmpty)
              .map(_.filter(col("__mc") > 0)) ++
            bySourceEval.map(_.filter(col("__bc") > 0)))
            .map(_.select(col("t.__dv_file").as("__dv_file"),
              col("t.__dv_row").as("__dv_row")))
            .reduceOption(_.unionByName(_))
          // add legs, every output cast to the table column's type (SQL
          // assignment semantics; keeps each commit's schema = the table's)
          def shaped(df: DataFrame, values: Map[String, Column],
              fallback: String => Column): DataFrame =
            df.select(tableCols.map(c =>
              values.getOrElse(c, fallback(c)).cast(colType(c)).as(c)): _*)
          val updateAdds = matched.zipWithIndex.flatMap { case (c, i) =>
            (c match {
              case MatchedUpdate(set, _) => requireAll("UPDATE SET", set.keys); Some(set)
              case MatchedUpdateAll(_) => Some(starSet)
              case MatchedDelete(_) => None
            }).map(set => shaped(matchedEval.get.filter(col("__mc") === (i + 1)),
              set, tc => col(s"t.$tc")))
          }
          val insertAdds = notMatched.zipWithIndex.map { case (c, i) =>
            val values = c match {
              case InsertValues(v, _) => requireAll("INSERT", v.keys); v
              case InsertAll(_) => starSet
            }
            // unmatched source rows: anti-join against the matched keys
            // (≤ source size, broadcastable), planned over the SAME
            // persisted matchedEval
            val matchedKeys = matchedEval.get
              .select(keys.map(c0 => col(s"t.$c0").as(c0)): _*).distinct()
            val nm = src.alias("s")
              .join(small(matchedKeys).alias("mk"), on("s", "mk"), "left_anti")
              .withColumn("__ic", clauseIndex(notMatched.map(_.condition)))
            shaped(nm.filter(col("__ic") === (i + 1)), values, _ => lit(null))
          }
          val bySourceAdds = bySource.zipWithIndex.flatMap { case (c, i) =>
            (c match {
              case BySourceUpdate(set, _) =>
                requireAll("BY SOURCE UPDATE SET", set.keys); Some(set)
              case BySourceDelete(_) => None
            }).map(set => shaped(bySourceEval.get.filter(col("__bc") === (i + 1)),
              set, tc => col(s"t.$tc")))
          }
          Legs(kills = kills,
            adds = (updateAdds ++ insertAdds ++ bySourceAdds).reduceOption(_.unionByName(_)),
            bloomCols = bloomCols, partitionCols = partitionCols,
            check =
              if (matched.nonEmpty) Some(() => requireUniqueKeys(what, src, keys))
              else None,
            keys = if (conflictDetect) Some(srcKeys) else None,
            validate = () => if (conflictDetect)
              validateNoKeyConflicts(spark, root, k, s.ids.toSet, srcKeys,
                keys, conflictWaitMs))
        }
      }.get
    }
  }

  /** The SQL MERGE cardinality contract: no two source rows share a key. */
  private def requireUniqueKeys(what: String, src: DataFrame,
      keys: Seq[String]): Unit = {
    val dup = src.groupBy(keys.map(col): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"txtable.$what: the source has duplicate keys — SQL MERGE " +
        "forbids multiple source rows matching one target row " +
        s"(first duplicate: ${dup.headOption.getOrElse("")})")
  }

  /** Claim-id-ordered optimistic validation (rounds 18–19), the loop the
    * key and file-identity tests share. Serialization order is CLAIM-ID
    * order: first wait until every lower claim our snapshot `snap` did
    * not contain resolves — it commits, abandons, or ages past `waitMs`
    * and is presumed crashed (a claim already that stale is never waited
    * on). Then `below` judges every lower commit the snapshot missed.
    * `above` judges the commits over us only when OUR claim has aged
    * past `waitMs` — the ZOMBIE CLOSURE: a higher-id peer gives up on a
    * claim only after seeing it for its full window, so our claim's age
    * is a complete trigger for "a younger writer may have committed
    * believing us crashed", and we lose to it. Residual window: both
    * sides passing their final listing inside the same few milliseconds
    * — reachable only with a writer already stalled past `waitMs`. A
    * verdict is the conflict's description; any verdict throws
    * [[CommitConflictException]]. */
  private def validateClaim(root: String, k: Long, snap: Set[Long],
      waitMs: Long)(below: Seq[Long] => Option[String],
      above: Seq[Long] => Option[String]): Unit = {
    // ONE claims listing per poll: ids + mtimes together
    def claims(): Map[Long, Long] = Fs.listOrEmpty(claimsDir(root))
      .flatMap(st => idOf(st).map(_ -> st.getModificationTime)).toMap
    def unresolved(): Boolean = {
      val committedNow = idsIn(commitsDir(root)).toSet
      val now = System.currentTimeMillis()
      claims().exists { case (c, mtime) =>
        c < k && !committedNow.contains(c) && !snap.contains(c) &&
          now - mtime <= waitMs
      }
    }
    val deadline = System.currentTimeMillis() + math.max(0L, waitMs)
    while (unresolved() && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val stalled = claims().get(k)
      .exists(mtime => System.currentTimeMillis() - mtime > waitMs)
    val committedNow = idsIn(commitsDir(root))
    if (stalled) above(committedNow.filter(_ > k)).foreach(why =>
      throw new CommitConflictException(
        s"txtable: claim $k stalled past its wait window and $why — the " +
          "younger writer won; retrying against the fresh snapshot"))
    below(committedNow.filter(c => c < k && !snap.contains(c))).foreach(why =>
      throw new CommitConflictException(
        s"txtable: claim $k: $why — retrying against the fresh snapshot"))
  }

  /** The optimistic KEY test (round 18) over [[validateClaim]]: every
    * lower commit our snapshot missed must carry a key sidecar disjoint
    * from our batch keys (a sidecar-less commit in the window is a
    * writer outside the protocol — one conservative retry); upward, only
    * the sidecar-carrying commits count (blind appends stay out of key
    * space by contract).
    *
    * NOTE a checkpoint in the window is NOT exempt even though it
    * changes no key: our deletion vectors reference the files of OUR
    * read snapshot, and a checkpoint that committed after it folds
    * those files away — post-checkpoint readers would scan the folded
    * copies and our kills would silently miss (lost update by file
    * identity). The checkpoint has no keys sidecar, so it forces exactly
    * the retry that re-kills against the folded layout — the Delta
    * OPTIMIZE-vs-txn file-level conflict, resolved the same way. */
  private[graft] def validateNoKeyConflicts(spark: SparkSession, root: String,
      k: Long, snap: Set[Long], ourKeys: DataFrame, keys: Seq[String],
      waitMs: Long): Unit = {
    def hasKeys(id: Long): Boolean = Fs.listOrEmpty(keysDir(root, id)).nonEmpty
    def touched(ids: Seq[Long]): Boolean = ids.nonEmpty &&
      !ourKeys.join(spark.read.parquet(ids.map(keysDir(root, _)): _*),
        keys, "left_semi").isEmpty
    validateClaim(root, k, snap, waitMs)(
      below = { ids =>
        val (withKeys, bare) = ids.partition(hasKeys)
        if (bare.nonEmpty) Some(s"commits ${bare.mkString(",")} landed inside " +
          "its validation window without key sidecars")
        else if (touched(withKeys)) Some(s"its batch keys intersect " +
          s"concurrent commits ${withKeys.mkString(",")}")
        else None
      },
      above = { ids =>
        val up = ids.filter(hasKeys)
        if (touched(up)) Some(s"commits ${up.mkString(",")} above it touch its keys")
        else None
      })
  }

  /**
   * Predicate DELETE (round 18) — `DELETE FROM t WHERE p`, committed
   * atomically: one snapshot scan (partition-pruned when `predicate`
   * touches partition columns), matching LIVE rows marked dead in this
   * commit's deletion vectors, no data written, cost ∝ matched rows +
   * one scan — never a rewrite. This is the GDPR-erasure / TTL shape as
   * a single call (the keyed tombstone path through [[upsert]] needs a
   * key batch; a retention cutoff is a predicate): follow with
   * [[compactFiles]]/[[checkpoint]] to reclaim bytes. A predicate that
   * matches nothing commits an EMPTY commit — the id is a real log
   * position. POSITIONAL, not key-versioned: the delete applies to the
   * rows live at ITS snapshot (standard snapshot-isolation DELETE), so
   * the single-upserting-writer contract covers it like any batch; the
   * change feed emits its kills as ordinary `d` rows.
   *
   * CONCURRENCY (round 19, extending the r18 OCC tier past [[upsert]]):
   * `conflictDetect = true` makes the delete OPTIMISTIC by FILE
   * identity — its deletion vectors name the files of ITS read
   * snapshot, so the conflict domain is not a key set but that file
   * list (the DV sidecar already IS the touched-file record; no extra
   * sidecar needed). Before the marker, [[validateNoFileConflicts]]
   * waits on in-flight lower claims and retries when a commit it did
   * not see MOVED rows out of its files — a checkpoint (every file
   * identity changes), a [[compactFiles]] fold, an [[upsert]] or
   * [[updateWhere]] whose kill+add pair touched them: the re-added
   * copies would escape this delete's positional kills (the lost
   * update the upsert-vs-checkpoint case already guards). A concurrent
   * kill-only commit (another predicate DELETE, a pure tombstone) never
   * conflicts — deletion vectors OR-fold, and a double-kill of the same
   * position is idempotent. Adds-only commits don't conflict either:
   * like Delta's WriteSerializable level, a row inserted after this
   * delete's snapshot is a LATER fact the predicate does not cover.
   */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column,
      conflictDetect: Boolean = false,
      conflictWaitMs: Long = 60L * 1000): Long =
    retryOnConflict("deleteWhere", root, conflictDetect) {
      commitWith(spark, root) { s =>
        require(s.ids.nonEmpty, s"txtable: create $root before deleting")
        if (conflictDetect) Fs.warnIfNonAtomic(root, "deleteWhere(conflictDetect)")
        Some(k => Legs(
          kills = Some(liveWithId(spark, s).filter(predicate)),
          validate = () => if (conflictDetect) validateNoFileConflicts(spark,
            root, k, s.ids.toSet, dvFileKeys(root, Seq(k)), conflictWaitMs)))
      }.get
    }

  /**
   * Predicate UPDATE (round 18) — `UPDATE t SET c = expr, … WHERE p`,
   * committed atomically: matching live rows die in this commit's
   * deletion vectors and their mutated copies land as its data dir —
   * the same kill+add pair [[upsert]] commits, driven by a predicate
   * instead of a key batch, cost ∝ matched rows + one scan. `set`
   * expressions may reference the row's own columns (`price + 1000`).
   * Positional like [[deleteWhere]] (the update applies to the rows
   * live at its snapshot); the feed emits it as ordinary `u`/`up`
   * rows. A no-match predicate commits an EMPTY commit.
   *
   * `conflictDetect` (round 19): the same optimistic FILE-identity
   * validation as [[deleteWhere]] — and the update's own kill+add pair
   * is exactly why OTHER writers' validation needs it to participate:
   * an update that moved a row leaves any concurrent positional kill
   * of the old copy pointing at a superseded file.
   */
  def updateWhere(spark: SparkSession, root: String, predicate: Column,
      set: Map[String, Column], bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      conflictDetect: Boolean = false,
      conflictWaitMs: Long = 60L * 1000): Long = {
    require(set.nonEmpty, "txtable.updateWhere needs SET expressions")
    retryOnConflict("updateWhere", root, conflictDetect) {
      commitWith(spark, root) { s =>
        require(s.ids.nonEmpty, s"txtable: create $root before updating")
        if (conflictDetect) Fs.warnIfNonAtomic(root, "updateWhere(conflictDetect)")
        Some { k =>
          val matched = s.cache(liveWithId(spark, s).filter(predicate))
          val old = matched.drop("__dv_file", "__dv_row")
          require(set.keySet.subsetOf(old.columns.toSet),
            s"txtable.updateWhere: SET names ${set.keySet.mkString(",")} " +
              s"must be existing columns (${old.columns.mkString(",")})")
          Legs(kills = Some(matched),
            // ONE select, so every SET expression evaluates against the
            // OLD row (SQL UPDATE semantics — a fold of withColumn would
            // let one SET read another's result in map order)
            adds = Some(old.select(old.columns.map(c =>
              set.getOrElse(c, col(c)).as(c)): _*)),
            bloomCols = bloomCols, partitionCols = partitionCols,
            validate = () => if (conflictDetect) validateNoFileConflicts(spark,
              root, k, s.ids.toSet, dvFileKeys(root, Seq(k)), conflictWaitMs))
        }
      }.get
    }
  }

  /** The DML retry loop: recompute from a fresh snapshot on every
    * [[CommitConflictException]], loud after 8 livelocked attempts. */
  private def retryOnConflict(what: String, root: String,
      conflictDetect: Boolean)(once: => Long): Long = {
    def attempt(n: Int): Long = try once catch {
      case e: CommitConflictException if conflictDetect =>
        if (n >= 8) throw new IllegalStateException(
          s"txtable: $what under $root conflicted on every one of $n " +
            "attempts — concurrent writers are livelocking; serialize them " +
            "upstream", e)
        attempt(n + 1)
    }
    attempt(1)
  }

  /** Scheme-insensitive file set the deletion vectors of commits `ks`
    * reference — a commit's conflict DOMAIN under file-identity
    * validation, from the driver sidecar read. */
  private def dvFileKeys(root: String, ks: Seq[Long]): Set[String] =
    dvVectors(root, ks).map(v => pathKey(v._2.file)).toSet

  /** The optimistic FILE-IDENTITY test (round 19) over [[validateClaim]]
    * — the predicate-DML twin of [[validateNoKeyConflicts]]: a commit
    * this writer did not see conflicts when it MOVED rows out of
    * `ourFiles` — a checkpoint (all file identities change), or any
    * kill+ADD commit (compact fold, upsert, update) whose deletion
    * vectors intersect them: its re-added copies would escape our
    * positional kills. Pure kill commits (no data dir) never conflict —
    * DV sidecars OR-fold and double-kills are idempotent; adds-only
    * commits never conflict — rows born after our snapshot are later
    * facts a snapshot-isolation DELETE/UPDATE does not cover (Delta's
    * WriteSerializable stance). The same test runs upward under the
    * zombie closure. A commit that kills nothing has nothing to test. */
  private[graft] def validateNoFileConflicts(spark: SparkSession,
      root: String, k: Long, snap: Set[Long], ourFiles: Set[String],
      waitMs: Long): Unit = if (ourFiles.nonEmpty) {
    // listed after the wait: a checkpoint that landed during it counts
    lazy val cps = idsIn(checkpointsDir(root)).toSet
    def moved(ids: Seq[Long]): Seq[Long] = ids.filter(c =>
      cps.contains(c) ||
        (Fs.listOrEmpty(dataDir(root, c)).nonEmpty &&
          dvFileKeys(root, Seq(c)).exists(ourFiles.contains)))
    validateClaim(root, k, snap, waitMs)(
      below = ids => Some(moved(ids)).filter(_.nonEmpty).map(m =>
        s"its kill files were moved by concurrent commits ${m.mkString(",")}"),
      above = ids => Some(moved(ids)).filter(_.nonEmpty).map(m =>
        s"commits ${m.mkString(",")} above it moved rows out of its files"))
  }

  private def statsPath(root: String) = s"$root/_txn/stats/manifest"

  /**
   * Build (or rebuild) the file-stats manifest over the CURRENT
   * resolution set — the [[StatsManifest]] footer pass pointed at the
   * commit log's files instead of a directory listing (a raw listing
   * of `data/` would also stat UNCOMMITTED dirs, which must never
   * influence a read). The manifest is an advisory CACHE, not part of
   * the commit protocol: [[readSkipping]] treats any file it doesn't
   * cover as unprunable, so a stale manifest costs performance, never
   * correctness — rebuild it at the same cadence as [[checkpoint]].
   */
  def buildManifest(spark: SparkSession, root: String,
      cols: Seq[String] = Seq.empty): DataFrame = {
    val s = new Snapshot(root)
    val files = s.resolved().flatMap(s.dataFiles).map(_.getPath.toString)
    require(files.nonEmpty, s"txtable: nothing committed under $root")
    StatsManifest.statsFor(spark, files, cols)
      .write.mode("overwrite").parquet(statsPath(root))
    ParquetIO.readByName(spark, Seq(statsPath(root) -> Tools.dataFiles(statsPath(root))), identity)
  }

  /**
   * Range scan with file skipping AND deletion vectors: the file
   * universe is the COMMIT LOG's resolution set (never the manifest's
   * own file list — files committed after the last [[buildManifest]]
   * are simply kept), the manifest's provable exclusions drop files,
   * the in-scan DV filter drops rows, and the range filter still applies
   * (pushed) on the survivors. Equals the unskipped live read filtered
   * to the range, by construction, whatever the manifest's age.
   */
  def readSkipping(spark: SparkSession, root: String, column: String,
      lo: Any, hi: Any): DataFrame =
    skippingRead(spark, root, column, lo, hi, identity,
      col(column) >= lit(lo) && col(column) <= lit(hi))

  /**
   * POINT LOOKUP with bloom skipping AND deletion vectors (round 17):
   * [[StatsManifest.pruneEquality]]'s two metadata-only cuts — the
   * manifest interval test, then the split-block bloom probe over the
   * survivors ([[ParquetIO.writeWithBloomFilters]] wrote the bitsets
   * when the table's writes passed `bloomCols`) — composed with the
   * commit log's file universe and the in-scan DV filter. A bloom rejection
   * is proof of absence, files without blooms or manifest rows are
   * conservatively kept, and the equality filter still applies (and
   * pushes down, re-checking blooms per row group below the file cut),
   * so the result equals the unskipped live read filtered to the value
   * — including zero rows for a key whose erasure is only recorded in
   * deletion vectors.
   */
  def readSkippingEquality(spark: SparkSession, root: String,
      column: String, value: Any): DataFrame =
    skippingRead(spark, root, column, value, value,
      StatsManifest.bloomSurvivors(spark, _, column, value), col(column) === lit(value))

  /** The skipping reads' body: the resolved data files minus the
    * manifest's exclusions on [`lo`, `hi`], through `cut`, scanned with
    * the DV fold and `pred` — all from ONE [[Snapshot]] (two listings
    * could apply a commit's deletes without its adds: a torn read). */
  private def skippingRead(spark: SparkSession, root: String, column: String,
      lo: Any, hi: Any, cut: Seq[String] => Seq[String], pred: Column): DataFrame = {
    val s = new Snapshot(root)
    val rks = s.resolved()
    val files = rks.flatMap(s.dataFiles).map(_.getPath.toString)
    require(files.nonEmpty, s"txtable: nothing committed under $root")
    val manifest = statsPath(root)
    val excluded: Set[String] =
      if (s.list(manifest).isEmpty) Set.empty
      else StatsManifest.excludedFiles(ParquetIO.readByName(spark,
        Seq(manifest -> Tools.dataFilesOf(manifest, s.list(manifest), Fs.conf())), identity),
        column, lo, hi)
    val survivors = cut(files.filterNot(excluded)).toSet
    if (survivors.isEmpty) liveAt(spark, s).filter(lit(false))
    else DeleteVectors.applyVectors(
        scanResolved(spark, s, rks, f => survivors(f.getPath.toString)), s.dvIndex(rks))
      .filter(pred)
  }

  /**
   * Row-level CHANGE FEED out of the commit log (round 17) — the
   * merge-on-read twin of [[ParquetIO.changeFeed]]: for each commit k
   * in [`fromCommit`, `toCommit`], the commit's adds (its data dir) are
   * diffed by `keys` against its kills (`_txn/dv/<k>` resolved back
   * through row identity — a scan bounded by the files the commit
   * TOUCHED, never the table), emitting `op ∈ {i, u, d}` rows with the
   * surviving payload and a `commit` column. An update is one `u` (new
   * values), a pure delete one `d` (last-known values), a pure insert
   * one `i`; a kill+re-add with identical payload — a [[compactFiles]]
   * move — compares equal and is feed-INVISIBLE, and [[checkpoint]]
   * commits (which supersede rather than change) are skipped, so
   * maintenance never pollutes the feed. Replaying the feed in commit
   * order reconstructs any snapshot; requires commits ≥ `fromCommit` to
   * be unexpired. Cost: Σ per-commit (files touched) — run it at CDC
   * cadence, before [[checkpoint]]+[[expire]] collapse the history.
   *
   * The whole range is ONE diff: one scan of every feed commit's data
   * files, each row's commit read from its file's `c<k>` dir
   * ([[commitOfFile]], so flat and hive-partitioned files both
   * resolve); one scan of the union kill-file set, each killed row
   * labelled by the commit whose vector kills it; one full-outer join
   * keyed (keys, commit). The join key carries the commit, so adds and
   * kills never compare across commits, and the plan keeps O(1) join
   * branches however long the log. Schema drift is the scans' own
   * by-name union ([[ParquetIO.readByName]]); both sides are then widened to the
   * union of their columns, null where a commit lacks one, so a column
   * absent from both sides of a commit compares equal.
   *
   * A table column named `op` or `commit` (any case) would clash with
   * the feed's own columns, so the call fails up front naming it.
   */
  def changeFeed(spark: SparkSession, root: String, keys: Seq[String],
      fromCommit: Long = 0L, withPreimage: Boolean = false,
      toCommit: Long = Long.MaxValue): DataFrame =
    changeFeedOver(spark, root, keys, withPreimage)(_ =>
      Some((fromCommit, toCommit))).get._1

  /** [[changeFeed]] over ONE commits listing: `range` sees the committed
    * ids (never empty) and returns the (from, to) range, None for no
    * feed, or throws to refuse (a cursor below the retained history); the
    * feed body reads the same [[Snapshot]]. Returns the feed and `to`. */
  private[graft] def changeFeedOver(spark: SparkSession, root: String,
      keys: Seq[String], withPreimage: Boolean)(
      range: Seq[Long] => Option[(Long, Long)]): Option[(DataFrame, Long)] = {
    require(keys.nonEmpty, "txtable.changeFeed needs key columns")
    val s = new Snapshot(root)
    require(s.ids.nonEmpty, s"txtable: nothing committed under $root")
    range(s.ids).map { case (from, to) =>
      (feedOf(spark, s, keys, from, to, withPreimage), to)
    }
  }

  /** The one-pass feed body over the snapshot `s`: see [[changeFeed]]. */
  private def feedOf(spark: SparkSession, s: Snapshot, keys: Seq[String],
      fromCommit: Long, toCommit: Long, withPreimage: Boolean): DataFrame = {
    val cps = s.checkpoints.toSet
    val feedIds = s.ids.filter(k =>
      k >= fromCommit && k <= toCommit && !cps.contains(k))
    // the feed commits' sidecars, read once on the driver: every
    // commit's touched files and its kills, with no Spark job
    val vectors = s.vectors(feedIds)
    val adds = Some(feedIds).filter(_.exists(s.dataFiles(_).nonEmpty))
      .map(scanResolved(spark, s, _))
    // the killed files, kept out of their own commits' listings
    val killed = vectors.map(v => pathKey(v._2.file)).toSet
    val isKilled = (f: FileStatus) => killed(pathKey(f.getPath.toString))
    val killCommits = vectors.flatMap(v => commitOf(v._2.file)).distinct.sorted
    require(killCommits.flatMap(s.dataFiles).count(isKilled) == killed.size,
      s"txtable.changeFeed: a file killed in commits $fromCommit..$toCommit is gone")
    val killScan = Some(killCommits).filter(_.nonEmpty).map(scanResolved(spark, s, _, isKilled))
    val fields = (adds.toSeq ++ killScan).flatMap(_.schema.fields)
      .filterNot(f => f.name == "__dv_file" || f.name == "__dv_row")
      .foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
        (acc, f) => if (acc.exists(_.name == f.name)) acc else acc :+ f
      }
    lazy val base = liveAt(spark, s)
    val columns = if (fields.isEmpty) base.columns.toSeq else fields.map(_.name)
    val clash = columns.filter(c => Set("op", "commit")(c.toLowerCase))
    require(clash.isEmpty, s"txtable.changeFeed: table column(s) " +
      s"${clash.mkString(", ")} clash with the feed's op/commit columns")
    val payload = columns.filterNot(keys.contains)
    if (fields.isEmpty)
      return base.select(keys.map(col) ++ Seq(lit("").as("op")) ++
        payload.map(col) :+ lit(0L).as("commit"): _*).filter(lit(false))
    // the working commit column, under a name no table column uses
    val commitCol = Iterator.iterate("__commit")(_ + "_")
      .find(n => !columns.exists(_.equalsIgnoreCase(n))).get
    val ofFile = regexp_extract(col("__dv_file"), commitOfFile, 1).cast("long")
    def widen(side: Option[DataFrame]): DataFrame = side match {
      case Some(df) => df.select(fields.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } :+ col(commitCol): _*)
      // LocalRelation-backed empty, so PropagateEmptyRelation collapses
      // the one-sided diff to a plain projection
      case None => spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(
          fields :+ org.apache.spark.sql.types.StructField(
            commitCol, org.apache.spark.sql.types.LongType)))
    }
    val n = widen(adds.map(_.withColumn(commitCol, ofFile)))
    val o = widen(killScan.map(DeleteVectors.killedRowsByCommit(_, vectors, commitCol)))
    ParquetIO.changeFeed(o, n, keys :+ commitCol, withPreimage)
      .select(keys.map(col) ++ Seq(col("op")) ++ payload.map(col) :+
        col(commitCol).as("commit"): _*)
  }

  /**
   * CURSOR-DRIVEN change-feed consumption (round 18) — the polling
   * primitive that lets a standing consumer (an incremental aggregate,
   * a vector state — [[graft.streaming.Streams.txVectorStateSync]]) follow
   * a mutating table without replaying history: returns the i/u/d feed
   * of every commit STRICTLY AFTER `cursor` plus the new cursor (the
   * committed tip at the one listing this call makes), `None` when
   * nothing new committed. Persist the returned cursor WITH the applied
   * state (same atomic scope) and the loop is exactly-once under crash
   * + replay: re-running from the stored cursor re-emits the same
   * commits, and commits are immutable once visible. Requires commits
   * after `cursor` to be unexpired — run consumers at least as often as
   * [[checkpoint]]+[[expire]] maintenance, like any changelog reader.
   * `withPreimage` adds `up` rows (old values per update) for consumers
   * that retract ([[graft.operators.Materialize.incrementalAggCdc]]).
   */
  def changeFeedFrom(spark: SparkSession, root: String, keys: Seq[String],
      cursor: Long, withPreimage: Boolean = false): Option[(DataFrame, Long)] =
    changeFeedOver(spark, root, keys, withPreimage) { all =>
      // LOUD, never lossy (round 18): a feed that skipped commits
      // maintenance expired unread would be a changelog with holes. Gaps
      // ABOVE the oldest commit are fine (abandoned claims).
      require(cursor < 0 || cursor + 1 >= all.min,
        s"txtable: changeFeedFrom cursor $cursor predates the retained " +
          s"history (oldest commit ${all.min}) — the consumer fell behind " +
          "checkpoint+expire maintenance; rebuild its state from a snapshot " +
          "read and resume from the current tip")
      // a FRESH consumer (cursor < 0) on a FOLDED table is the same hole
      // from the other side (round 19): checkpoints are feed-invisible, so
      // the folded base rows are gone from the feed — bootstrap from a
      // snapshot read instead ([[graft.sources.txtable.TxFeedSource]]'s
      // default start) and resume from the returned tip.
      require(cursor >= 0 || all.min == 0,
        s"txtable: changeFeedFrom with a fresh cursor ($cursor) on a folded " +
          s"table (oldest commit ${all.min} > 0) — the folded base rows are " +
          "feed-invisible; bootstrap the consumer from a snapshot read " +
          "(emit it as inserts at the listed tip) and resume from that tip")
      // bounded ABOVE at the listed tip: the returned cursor is exactly
      // the last commit fed
      Some(all.max).filter(_ > cursor).map(tip => (cursor + 1, tip))
    }

  /** Scheme-insensitive identity for crossing the `_metadata.file_path`
    * domain (scan-provided URIs) with listing paths. */
  private def pathKey(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /**
   * File-level FOLD-DOWN (round 17): rewrite ONLY the files whose dead
   * fraction crossed `minDeadFraction`, as one commit — the commit's
   * adds are those files' live rows, its deletion vectors re-kill the
   * same rows at their OLD positions, so the live snapshot is
   * unchanged, cold files stay byte-untouched, and a skewed delete
   * pattern (one hot day-partition) folds at cost ∝ hot files where
   * [[checkpoint]] would rewrite the whole table. Dead counts come
   * from the DV sidecars alone (popcount per file); live totals from
   * the DV-carrying files' footers, read on the driver — no data read
   * decides anything, the decision runs no Spark job, and no id is
   * claimed until a fold is due. Returns the
   * commit id, or None when no file crosses the threshold (or the hot
   * files hold no live rows). Single maintenance writer, like every
   * maintenance pass — and FENCED against live upserts like
   * [[checkpoint]] (round 18): an in-flight writer may be killing rows
   * in exactly the files this fold is moving, and its kill of the OLD
   * position would not reach the moved copy — the key would resurrect.
   * The fold therefore ABORTS ([[CommitConflictException]], the id
   * abandoned) over unredeemed lower claims or lower commits that
   * landed mid-fold.
   */
  def compactFiles(spark: SparkSession, root: String,
      minDeadFraction: Double = 0.3,
      targetFileBytes: Long = 512L * 1024 * 1024,
      bloomCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty): Option[Long] =
    commitWith(spark, root) { s =>
      require(s.ids.nonEmpty, s"txtable: nothing committed under $root")
      val rks = s.resolved()
      val dv = s.dvIndex(rks)
      val deadPerFile = dv.deadPerFile
      // vectors can reference files already folded out of the resolution
      // set (e.g. pre-checkpoint) — only files still resolved count; the
      // SAME rks snapshot that fed the fold (one listing per operation)
      val universe =
        if (deadPerFile.isEmpty) Map.empty[String, FileStatus]
        else rks.flatMap(s.dataFiles).map(st => pathKey(st.getPath.toString) -> st).toMap
      val cands = deadPerFile.keys.filter(f => universe.contains(pathKey(f))).toSeq.sorted
      // live totals: the driver-side footer row count [[writtenRows]] uses
      val conf = spark.sparkContext.hadoopConfiguration
      val totals = Tools.onDriverPool(cands)(f => footerRows(universe(pathKey(f)), conf))
      val hot = cands.zip(totals).collect {
        case (f, total) if deadPerFile(f).toDouble / math.max(1L, total) >= minDeadFraction => f
      }
      // fully dead files: nothing to move
      val hotKeys = hot.map(pathKey).toSet
      val liveHot = Some(hot).filter(_.nonEmpty).map(_ => s.cache(
          DeleteVectors.applyVectorsKeepId(
            scanResolved(spark, s, rks, f => hotKeys(pathKey(f.getPath.toString))), dv)))
        .filterNot(_.isEmpty)
      liveHot.map(moving => { k =>
        fence("compactFiles", root, k, s.ids, s.ids)
        val parts = math.max(1L, hot.map(f => universe(pathKey(f)).getLen).sum /
          math.max(1L, targetFileBytes)).toInt
        val moved = moving.drop("__dv_file", "__dv_row")
        Legs(kills = Some(moving),
          adds = Some(
            if (partitionCols.isEmpty) moved.coalesce(parts)
            // cluster by the partition column so the fold keeps the hive
            // layout at ~one file per (task, value) instead of parts × values
            else moved.repartition(parts, partitionCols.map(col): _*)),
          bloomCols = bloomCols, partitionCols = partitionCols,
          precluster = false, prune = false,
          validate = { () =>
            val committedNow = fence("compactFiles", root, k, s.ids, idsIn(commitsDir(root)))
            // zombie-writer fence, the [[checkpoint]] shape made PRECISE
            // for a partial fold (round 19): a commit above k that killed
            // rows in the files THIS fold is moving wrote those kills
            // against the pre-move positions — the moved copies would
            // resurrect them. Only the hot set matters (a kill in a cold
            // file is untouched by this fold), so the fence reads the tiny
            // DV sidecars above k and intersects their file lists with it.
            val above = committedNow.filter(_ > k)
            if (dvFileKeys(root, above).exists(hot.map(pathKey).toSet.contains))
              abort("compactFiles", root, k, s"commits ${above.mkString(",")} " +
                "above it kill rows in the files this fold is moving (a writer " +
                "presumed this fold crashed); their kills would miss the moved copies")
          })
      })
    }

  /** A maintenance fold's abort: [[commitWith]] abandons the claimed id. */
  private def abort(what: String, root: String, k: Long, reason: String): Nothing =
    throw new CommitConflictException(
      s"txtable: $what claim $k under $root aborted — $reason")

  /** The maintenance WRITER FENCE (round 18) shared by [[checkpoint]] and
    * [[compactFiles]], run before the fold against its own snapshot and
    * again before the marker against a FRESH listing `committedNow`
    * (with a fresh claims listing each time): a
    * fold built from `snap` aborts when a lower commit landed outside
    * `snap`, or a lower id is still claimed but uncommitted — either may
    * kill rows in the files the fold moves, and the kills would miss the
    * moved copies. Claims taken after ours have ids above `k`, so passing
    * the final fence is final. Returns `committedNow`. */
  private def fence(what: String, root: String, k: Long, snap: Seq[Long],
      committedNow: Seq[Long]): Seq[Long] = {
    val seen = snap.toSet
    val missed = committedNow.filter(c => c < k && !seen.contains(c))
    if (missed.nonEmpty)
      abort(what, root, k, s"commits ${missed.mkString(",")} landed below it during the fold")
    val committed = committedNow.toSet
    val inFlight = idsIn(claimsDir(root)).filter(c => c < k && !committed.contains(c))
    if (inFlight.nonEmpty)
      abort(what, root, k, s"writers ${inFlight.mkString(",")} are in flight " +
        "below it; retry once they commit or are vacuumed")
    committedNow
  }

  /**
   * Fold the log: write the CURRENT live snapshot as one clean commit
   * and mark it a checkpoint — readers at or past it resolve
   * checkpoint + tail instead of every commit since creation, which
   * bounds both the read plan and the DV fold of a long-lived CDC
   * table (the same small-files pressure
   * `compactFragmentedPartitions` exists for, answered in-log).
   * Output sizing is computed over the RESOLUTION set's bytes
   * (checkpoint + tail — already-superseded history must not inflate
   * the file count). `sortCols` (round 17) makes the fold a LAYOUT
   * pass too: the live rows range-exchange + sort on those keys (the
   * [[ParquetIO.compactSorted]] recipe), so each checkpoint file is a
   * tight key range and a [[buildManifest]] right after restores
   * file-level pruning that months of unordered CDC commits eroded —
   * mutation and clustered layout stop being either/or; `zCols`
   * (round 18) is the 2–3-key alternative: the fold Morton-interleaves
   * the keys ([[ParquetIO.compactZOrder]]'s recipe in-log) so each
   * checkpoint file is a small hyper-rectangle and one manifest prunes
   * on EITHER key. Ordering:
   * data dir, then the checkpoint marker, then the COMMIT marker — a
   * crash leaves either invisible dirs or a
   * checkpoint-marker-without-commit, which [[checkpointIds]] ignores
   * and [[vacuum]] sweeps. History BEFORE the checkpoint stays
   * readable ([[readAt]]) until [[expire]] collapses it. The marker
   * carries the newest stream record per tag of the markers it folds
   * (one open each), so [[expire]] keeps every [[streamBatch]].
   *
   * WRITER FENCING (round 18, closing the round-17 advisory): the fold
   * CLAIMS FIRST and works from a snapshot FROZEN at the one listing
   * after it (commits ≤ the claimed id — a commit claimed after us can
   * never double-count into both the fold and the post-checkpoint
   * tail), and the checkpoint ABORTS — [[CommitConflictException]], the
   * id abandoned — when any lower id is still claimed-but-uncommitted
   * before the fold or at commit time, or when a lower commit landed
   * after the freeze: such a commit would be silently excluded from the
   * post-checkpoint resolution set (ids ≥ k) and then physically deleted
   * by [[expire]]. Callers retry once in-flight writers drain; quiescing
   * writers is no longer a correctness requirement, only an availability
   * one.
   */
  def checkpoint(spark: SparkSession, root: String,
      targetFileBytes: Long = 512L * 1024 * 1024,
      bloomCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      zCols: Seq[String] = Seq.empty): Long = {
    require(sortCols.isEmpty || zCols.isEmpty,
      "txtable.checkpoint: sortCols and zCols are alternative layouts — pass one")
    commitWith(spark, root, claimFirst = true) { s =>
      Some { k =>
        // cheap pre-flight before the expensive fold
        if (s.ids.isEmpty) abort("checkpoint", root, k, "nothing committed to fold")
        fence("checkpoint", root, k, s.ids, s.ids)
        // the FROZEN fold: exactly the commits ≤ k seen at the one
        // snapshot listing — never a re-list mid-operation
        val ks = s.resolved(k)
        val live = DeleteVectors.applyVectors(scanResolved(spark, s, ks), s.dvIndex(ks))
        val parts = math.max(1L, ks.flatMap(s.dataFiles).map(_.getLen).sum /
          math.max(1L, targetFileBytes)).toInt
        val sized =
          if (sortCols.nonEmpty)
            live.repartitionByRange(parts, sortCols.map(col): _*)
              .sortWithinPartitions(sortCols.map(col): _*)
          // Z-ORDERED fold (round 18): the compactZOrder recipe in-log —
          // every checkpoint file becomes a small (k1, k2) hyper-rectangle,
          // so ONE manifest rebuild restores file-level pruning on EITHER
          // key of a mutating table (sortCols clusters one key only)
          else if (zCols.nonEmpty)
            ParquetIO.withZValue(live, zCols)
              .repartitionByRange(parts, col("__z"))
              .sortWithinPartitions(col("__z"))
              .drop("__z")
          // partitioned fold: cluster by the partition column so the
          // checkpoint keeps ~one file per (task, value), not parts × values
          else if (partitionCols.nonEmpty)
            live.repartition(parts, partitionCols.map(col): _*)
          else live.repartition(parts)
        Legs(adds = Some(sized), bloomCols = bloomCols,
          partitionCols = partitionCols, precluster = false, prune = false,
          checkpoint = true, txns = s.newestTxns(ks),
          validate = { () =>
            val committedNow = fence("checkpoint", root, k, s.ids, idsIn(commitsDir(root)))
            // ZOMBIE-WRITER fence (round 19, closing the r18 advisory's
            // high finding): a conflictDetect upsert whose wait window is
            // shorter than this fold presumes the fold's claim crashed and
            // commits — with deletion vectors aimed at PRE-fold files.
            // Post-checkpoint readers resolve the folded copies instead,
            // so those kills would silently miss (lost update by file
            // identity) and [[expire]] would make it permanent. Any
            // DV-carrying commit ABOVE k at commit time therefore aborts
            // the fold; adds-only commits (appends) are safe — they ride
            // the post-checkpoint tail untouched. Residual window: such a
            // commit landing between this listing and the marker, which
            // requires the fold to have already outlived the writer's full
            // wait window AND the two final listings to interleave within
            // milliseconds — the same residual as the upsert zombie
            // closure; keeping conflictWaitMs above the longest
            // maintenance fold closes it entirely.
            val dvAbove = committedNow.filter(c => c > k && Fs.listOrEmpty(dvDir(root, c)).nonEmpty)
            if (dvAbove.nonEmpty)
              abort("checkpoint", root, k, s"commits ${dvAbove.mkString(",")} " +
                "above it carry deletion vectors written against the pre-fold " +
                "layout (a writer presumed this fold crashed); their kills " +
                "would miss the folded copies")
          })
      }
    }.get
  }

  private def cursorsDir(root: String) = s"$root/_txn/cursors"

  /**
   * Register a standing consumer's change-feed position (round 19, the
   * retention-coordination contract): consumer `name` has applied every
   * commit ≤ `cursor`, and [[expire]] will keep the commits ABOVE it —
   * `min(live cursors) + 1` becomes the expire floor — so maintenance
   * can no longer strand a lagging registered consumer mid-feed and
   * force a full state rebuild. The position is create-once markers
   * (`_txn/cursors/<name>/c<k>`, the same object-store-safe shape as
   * every other protocol bit: registration is a new-object PUT, the
   * consumer's floor is max(markers), no overwrite anywhere); markers
   * the new one supersedes are swept opportunistically. UNregistered
   * consumers keep today's contract — [[changeFeedFrom]] fails loudly
   * past maintenance and the consumer rebootstraps from a snapshot.
   * Call [[unregisterCursor]] when decommissioning a consumer: a dead
   * registration pins history forever (the same trade as any
   * replication slot).
   */
  def registerCursor(root: String, name: String, cursor: Long): Unit = {
    require(name.nonEmpty && !name.contains("/"),
      s"txtable: cursor name must be a plain identifier, got '$name'")
    require(cursor >= 0, s"txtable: cursor must be a commit id, got $cursor")
    val dir = s"${cursorsDir(root)}/$name"
    Fs.createMarker(s"$dir/c$cursor", name)
    // sweep superseded positions — max(markers) is the live one
    idsIn(dir).filter(_ < cursor)
      .foreach(k => Fs.deleteIfExists(s"$dir/c$k"))
  }

  /** Forget a consumer: its floor no longer holds history. */
  def unregisterCursor(root: String, name: String): Unit =
    Fs.deleteRecursive(new org.apache.hadoop.fs.Path(s"${cursorsDir(root)}/$name"))

  /** Every registered consumer's applied position — (name, cursor). */
  def registeredCursors(root: String): Seq[(String, Long)] = {
    val dir = cursorsDir(root)
    Fs.listOrEmpty(dir).filter(_.isDirectory).map(_.getPath.getName).sorted.flatMap { n =>
      idsIn(s"$dir/$n").lastOption.map(n -> _)
    }
  }

  /** The expire floor: the first commit some registered consumer has
    * NOT yet applied (min live cursor + 1); None when nobody registered. */
  def cursorFloor(root: String): Option[Long] =
    registeredCursors(root).map(_._2).minOption.map(_ + 1)

  /**
   * Collapse history below the newest committed checkpoint: delete the
   * data dirs, DV dirs, key sidecars, and markers of every commit
   * strictly older. The live snapshot is untouched (it resolves from
   * the checkpoint forward); time travel BELOW the checkpoint fails
   * loudly afterwards — the caller is trading history for storage, the
   * generation-retention contract. No-op without a committed
   * checkpoint. REGISTERED consumer cursors (round 19) bound the
   * collapse: nothing at or above `min(live cursors) + 1` is deleted,
   * so a lagging [[registerCursor]] consumer keeps its unread commits
   * feed-readable (they stay out of every reader's RESOLUTION set —
   * that still starts at the checkpoint — so retention costs storage,
   * never read-plan width). Feed-readable includes the KILL SOURCES:
   * commits below the floor whose files a retained feed commit's DVs
   * reference are kept whole as well (the body's sidecar pass).
   */
  def expire(spark: SparkSession, root: String): Seq[Long] = {
    val s = new Snapshot(root)
    s.checkpoints.lastOption match {
      case None => Seq.empty
      case Some(cp) =>
        val cutoff = cursorFloor(root).map(math.min(cp, _)).getOrElse(cp)
        val all = s.ids
        // KILL-SOURCE retention (round 19): a retained feed commit's
        // deletion vectors name files of OLDER commits — the feed's
        // `d`/`u` rows resolve their last-known values from exactly
        // those files — so any commit below the floor that a retained
        // pre-checkpoint commit's DVs reference survives whole too.
        // Decided from the tiny DV sidecars, read on the driver; no data
        // page is read.
        val referenced: Set[Long] =
          s.vectors(all.filter(id => id >= cutoff && id < cp))
            .flatMap(v => commitOf(v._2.file)).toSet
        all.filter(id => id < cutoff && !referenced.contains(id)).map { id =>
          Fs.deleteRecursive(new org.apache.hadoop.fs.Path(dataDir(root, id)))
          Fs.deleteRecursive(new org.apache.hadoop.fs.Path(dvDir(root, id)))
          Fs.deleteRecursive(new org.apache.hadoop.fs.Path(keysDir(root, id)))
          // the marker goes LAST: a crash mid-expire leaves a committed
          // id with missing dirs only below the checkpoint, where no
          // reader resolves data from anyway
          Fs.deleteIfExists(marker(root, id))
          Fs.deleteIfExists(s"${checkpointsDir(root)}/c$id")
          Fs.deleteIfExists(s"${claimsDir(root)}/c$id")
          id
        }
    }
  }

  /**
   * Log introspection (round 17) — the `DESCRIBE HISTORY` analogue, one
   * row per COMMITTED id: whether it is a checkpoint, its data files /
   * bytes (directory listings, bounded by log length), and its DV kill
   * count (popcount over the commit's own sidecar — tiny). Metadata
   * only: no data page is read, so it is safe to call on any table at
   * any size. Uncommitted (claimed/crashed) ids are invisible here as
   * everywhere; [[vacuum]] reports those.
   */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val s = new Snapshot(root)
    val cps = s.checkpoints.toSet
    // ALL commits' kill counts from the (tiny) sidecars, read on the
    // driver — no Spark job
    val killed: Map[Long, Long] = s.vectors(s.ids).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2.nDeleted).sum }
    // commit wall-clocks (round 20): the stamped ts= marker field, mtime
    // fallback for pre-stamp tables — the TIMESTAMP AS OF data source
    val stamps = s.timestamps.toMap
    val rows = s.ids.map { k =>
      // recursive: hive-partitioned commits keep their leaf files below
      // <col>=<val>/ subdirectories (round 18)
      val files = s.dataFiles(k)
      (k, cps.contains(k), files.size.toLong, files.map(_.getLen).sum,
        killed.getOrElse(k, 0L), stamps.getOrElse(k, 0L))
    }
    rows.toDF("commit", "is_checkpoint", "n_files", "bytes", "n_deleted",
        "commit_ts_millis")
      .withColumn("commit_ts",
        org.apache.spark.sql.functions.timestamp_millis(col("commit_ts_millis")))
      .drop("commit_ts_millis")
  }

  /**
   * One-call MAINTENANCE policy (round 18) — the decision tree every
   * deployment re-implements, as code, decided from METADATA only:
   *
   *  1. when the resolution set (checkpoint + tail) exceeds `maxTail`
   *     commits, fold the log — [[checkpoint]] (with the caller's
   *     layout: sort/z/partition) then [[expire]] — bounding every
   *     reader's plan and the DV fold;
   *  2. otherwise, when any file's dead fraction crossed
   *     `minDeadFraction`, fold ONLY those files ([[compactFiles]] —
   *     checkpointing here would rewrite the whole table for one hot
   *     file, the skewed-delete overpay compactFiles exists for);
   *  3. always [[vacuum]] with the grace window.
   *
   * Returns the actions taken, human-readable. Single maintenance
   * writer like its parts; the parts keep their own writer fencing, so
   * a concurrent upsert surfaces as [[CommitConflictException]] — catch
   * and re-run at the next maintenance tick. The decisions cost two
   * listings, the DV-sidecar popcount pass and the DV-carrying files'
   * footers, all read on the driver — no data page is read and no Spark
   * job runs to decide anything.
   */
  def maintain(spark: SparkSession, root: String,
      maxTail: Int = 32,
      minDeadFraction: Double = 0.3,
      targetFileBytes: Long = 512L * 1024 * 1024,
      bloomCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty,
      partitionCols: Seq[String] = Seq.empty,
      zCols: Seq[String] = Seq.empty,
      graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    require(maxTail >= 1, "txtable.maintain: maxTail must be >= 1")
    val actions = Seq.newBuilder[String]
    val rks = new Snapshot(root).resolved()
    require(rks.nonEmpty, s"txtable: nothing committed under $root")
    if (rks.size > maxTail) {
      val k = checkpoint(spark, root, targetFileBytes, bloomCols,
        sortCols, partitionCols, zCols)
      val expired = expire(spark, root)
      actions += s"checkpoint c$k (tail ${rks.size} > $maxTail), " +
        s"expired ${expired.size} commits"
    } else {
      compactFiles(spark, root, minDeadFraction, targetFileBytes,
        bloomCols, partitionCols).foreach(k =>
        actions += s"compactFiles c$k (dead fraction >= $minDeadFraction)")
    }
    val swept = vacuum(spark, root, graceMs)
    if (swept.nonEmpty) actions += s"vacuum swept ${swept.size} paths"
    actions.result()
  }

  /** Sweep crashed-writer leftovers: data/DV/key dirs and unredeemed
    * claim markers whose id has no commit marker AND is below the newest
    * committed id (an id above it may be an in-flight writer — never
    * touched) AND is older than `graceMs`
    * (round 18, closing the round-17 advisory: claim ids are monotonic
    * but COMMIT order is not — writer A claims k, writer B claims k+1
    * and commits first, so tip > k while A is still writing; the
    * id-below-tip test alone would delete A's in-progress dirs and A's
    * later commit would report success over half-deleted data). The
    * grace window is judged on the id's newest artifact mtime — claim
    * marker or dir — Delta-vacuum-style: set it comfortably above the
    * longest write a live writer can be mid-flight in (default 24 h);
    * `graceMs = 0` restores sweep-now and is only safe with ALL writers
    * quiesced. Returns the paths removed. */
  def vacuum(spark: SparkSession, root: String,
      graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val committed = committedIds(root).toSet
    val tip = if (committed.isEmpty) -1L else committed.max
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    def youngerThanCutoff(path: String): Boolean =
      try {
        val (fs, p) = Fs.fileSystem(path)
        fs.getFileStatus(p).getModificationTime > cutoff
      } catch {
        case _: java.io.FileNotFoundException => false
        case scala.util.control.NonFatal(_) => true // unknown age: keep
      }
    // ONE grace verdict per id, over every artifact the id has: a claim
    // stamped recently protects its (possibly mid-write) dirs and vice
    // versa — sweeping is all-or-nothing per id
    def artifacts(id: Long): Seq[String] = Seq(
      s"${claimsDir(root)}/c$id", s"${checkpointsDir(root)}/c$id",
      dataDir(root, id), dvDir(root, id), keysDir(root, id))
    def sweepable(id: Long): Boolean =
      !committed.contains(id) && id < tip && !artifacts(id).exists(youngerThanCutoff)
    def sweep(dir: String, prefix: String, path: Long => String): Seq[String] =
      idsIn(dir, prefix)
        .filter(sweepable)
        .map { id =>
          val p = path(id)
          Fs.deleteRecursive(new org.apache.hadoop.fs.Path(p)); p
        }
    // a crashed checkpoint's marker-without-commit is litter, and so is
    // a claim that never became a commit
    def strayMarkers(dir: String): Seq[String] =
      idsIn(dir)
        .filter(sweepable)
        .map { id =>
          val p = s"$dir/c$id"
          Fs.deleteIfExists(p); p
        }
    sweep(s"$root/data", "c", dataDir(root, _)) ++
      sweep(s"$root/_txn/dv", "", dvDir(root, _)) ++
      sweep(s"$root/_txn/keys", "", keysDir(root, _)) ++
      strayMarkers(checkpointsDir(root)) ++ strayMarkers(claimsDir(root))
  }
}
