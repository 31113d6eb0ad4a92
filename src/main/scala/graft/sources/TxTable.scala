package graft.sources

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
 * ONE `_txn/commits` listing, never a JSON parse. A writer works
 * data-first: rows into `data/c<k>`, vectors into `_txn/dv/<k>`, and
 * only then the marker — a crash at any earlier point leaves
 * directories no reader resolves and [[vacuum]] later sweeps. The
 * delete-then-append pair of an upsert therefore becomes visible
 * ATOMICALLY: both ride the same k, both appear at marker creation or
 * not at all.
 *
 * Reads: the snapshot is (∪ committed data dirs) scanned once with row
 * identity, minus the OR-fold of ALL committed DV sidecars — read on
 * the driver and applied inside the scan as one codegen'd filter
 * ([[DeleteVectors.applyVectors]]). Planning a read runs no Spark job:
 * flat commit dirs scan with the schema of their first footer.
 * Commits written under DIFFERENT schemas reconcile by name at read
 * time (missing columns null — the [[ParquetIO.merge]] S13 contract,
 * oldest commit's columns first); the uniform-schema fast path stays
 * one multi-dir scan with pushdown intact. [[readAt]] is time travel
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

  private def markerIds(dir: String): Seq[Long] = {
    if (!Fs.isDirectory(dir)) return Seq.empty
    Fs.listFiles(dir)
      .map(_.getPath.getName)
      .filter(_.matches("c\\d+"))
      .map(_.stripPrefix("c").toLong)
      .sorted
  }

  /** Committed ids, ascending — one listing of the commits dir. */
  def committedIds(root: String): Seq[Long] = markerIds(commitsDir(root))

  /** Committed ids with their marker mtimes, ascending by id — the SAME
    * single listing as [[committedIds]], exposed for callers that need a
    * cheap TABLE IDENTITY alongside the tip (round 20): a drop+recreate
    * restarts commit ids at 0, so `(root, tip)` alone can alias two
    * different tables' lifetimes, but the FIRST retained marker's mtime
    * changes across the recreate — `(root, tip, head-mtime)` cannot. */
  private[graft] def commitStats(root: String): Seq[(Long, Long)] = {
    val dir = commitsDir(root)
    if (!Fs.isDirectory(dir)) return Seq.empty
    Fs.listFiles(dir)
      .filter(_.getPath.getName.matches("c\\d+"))
      .map(st => st.getPath.getName.stripPrefix("c").toLong ->
        st.getModificationTime)
      .sortBy(_._1)
  }

  /** Committed CHECKPOINT ids: both the checkpoint marker and the
    * commit marker exist (a checkpoint marker alone is a crashed
    * writer's leftover and resolves to nothing). */
  def checkpointIds(root: String): Seq[Long] = {
    val committed = committedIds(root).toSet
    markerIds(checkpointsDir(root)).filter(committed.contains)
  }

  /** Next free id: past every id any directory or marker — commit,
    * claim, or checkpoint; committed or crashed — has touched, so a
    * crashed or in-flight writer's id is never reused and its leftovers
    * can never be adopted by a later commit. */
  private def nextId(root: String): Long = {
    def ids(dir: String, prefix: String): Seq[Long] =
      if (!Fs.isDirectory(dir)) Seq.empty
      else Fs.listDirs(dir).map(_.getPath.getName)
        .filter(n => n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit))
        .map(_.drop(prefix.length).toLong)
    (committedIds(root) ++ markerIds(claimsDir(root)) ++
      markerIds(checkpointsDir(root)) ++ ids(s"$root/data", "c") ++
      ids(s"$root/_txn/dv", "") :+ -1L).max + 1
  }

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
    * back to marker mtime in [[commitTimestamps]]. */
  private[graft] def commit(root: String, k: Long): Unit =
    require(Fs.createMarker(marker(root, k),
        s"${dataDir(root, k)}\nts=${System.currentTimeMillis()}"),
      s"txtable: commit marker c$k already exists under $root — " +
        "lost a commit race (id written outside the claim protocol?)")

  /** Every committed id with its commit WALL-CLOCK (epoch millis),
    * ascending by id: the stamped `ts=` field from the marker content
    * when present (any commit written since round 20), else the
    * marker's mtime — also wall-clock, just copy-fragile. One listing
    * for ids + mtimes, then one tiny content read per marker (bounded
    * by log length; [[expire]] keeps that short on maintained tables).
    * NOTE commit wall-clocks are the WRITERS' clocks: monotonic per
    * writer, skew-bounded across writers — the standard caveat every
    * log-structured table's TIMESTAMP AS OF carries. */
  private[graft] def commitTimestamps(root: String): Seq[(Long, Long)] = {
    val dir = commitsDir(root)
    if (!Fs.isDirectory(dir)) return Seq.empty
    Fs.listFiles(dir)
      .filter(_.getPath.getName.matches("c\\d+"))
      .map { st =>
        val k = st.getPath.getName.stripPrefix("c").toLong
        val stamped = Fs.readUtf8(s"$dir/c$k").flatMap(
          _.linesIterator.find(_.startsWith("ts="))
            .flatMap(l => l.stripPrefix("ts=").trim.toLongOption))
        k -> stamped.getOrElse(st.getModificationTime)
      }
      .sortBy(_._1)
  }

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

  private def existingDataDirs(root: String, ks: Seq[Long]): Seq[String] =
    ks.map(dataDir(root, _)).filter(Fs.isDirectory(_))

  /** A parquet part file a commit leg wrote (not a `_SUCCESS` marker). */
  private def isPartFile(f: org.apache.hadoop.fs.FileStatus): Boolean =
    f.getPath.getName.endsWith(".parquet") && !f.getPath.getName.startsWith("_") &&
      f.getLen > 0

  /** The sidecar rows of commits `ks`, read on the driver
    * ([[DeleteVectors.readSidecar]]), each with its commit id — the one
    * DV read behind every snapshot fold, kill-file list, feed label,
    * history count and conflict domain. No Spark job. */
  private def dvVectors(root: String,
      ks: Seq[Long]): Seq[(Long, DeleteVectors.FileVector)] = {
    val files = ks.map(k => k -> dvDir(root, k)).filter(kd => Fs.isDirectory(kd._2))
      .flatMap { case (k, d) => Fs.listFiles(d).filter(isPartFile).map(k -> _.getPath) }
    val conf = Fs.conf()
    onLegPool(files) { case (k, p) => DeleteVectors.readSidecar(p, conf).map(k -> _) }
      .flatten
  }

  /** The OR-folded deletion vectors of the commits `ks`. */
  private def dvIndex(root: String, ks: Seq[Long]): DeleteVectors.Index =
    DeleteVectors.fold(dvVectors(root, ks).map(_._2))

  /** The resolution set over an EXPLICIT committed-id snapshot —
    * newest committed checkpoint ≤ asOf, plus the tail after it. Taking
    * the snapshot once and deriving everything (file universe, DV fold,
    * conflict validation) from it is what makes a read atomic: any
    * two listings of the commits dir can straddle a concurrent commit. */
  private def resolvedOf(root: String, committed: Seq[Long],
      asOf: Long = Long.MaxValue): Seq[Long] = {
    val all = committed.filter(_ <= asOf)
    val cset = all.toSet
    val base = markerIds(checkpointsDir(root))
      .filter(id => cset.contains(id) && id <= asOf).lastOption
    base.map(b => all.filter(_ >= b)).getOrElse(all)
  }

  /** The resolution set: commit ids a reader at `asOf` resolves —
    * ONE listing of the commits dir. */
  private def resolvedIds(root: String, asOf: Long = Long.MaxValue): Seq[Long] =
    resolvedOf(root, committedIds(root), asOf)

  /** Data write with optional parquet bloom filters on `bloomCols` —
    * the write-side half of [[readSkippingEquality]]'s point-lookup
    * path ([[ParquetIO.writeWithBloomFilters]]) — and optional HIVE
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
    if (partitionCols.isEmpty) {
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
      if (bloomCols.isEmpty) sized.write.mode("overwrite").parquet(path)
      else ParquetIO.writeWithBloomFilters(sized, path, bloomCols)
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
      val base = clustered.write.mode("overwrite").partitionBy(partitionCols: _*)
      val withBloom = bloomCols.foldLeft(base) { (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c", "100000")
      }
      withBloom.parquet(path)
    }
  }

  /** A commit dir laid out hive-style by [[writeData]]'s
    * `partitionCols` — one listing, decided by the `<col>=<val>`
    * child-name shape. */
  private def isHivePartitioned(dir: String): Boolean =
    Fs.isDirectory(dir) && Fs.listDirs(dir).exists(_.getPath.getName.contains("="))

  /** One row-identified scan over data dirs, schema evolution
    * reconciled by NAME: when commits were written under different
    * schemas, each dir scans separately and unions by name with
    * missing columns null ([[ParquetIO.merge]]'s S13 contract), oldest
    * commit's columns leading. Same-schema commits — the common case —
    * keep the single multi-dir scan (pushdown and pruning intact).
    * PARTITIONED commit dirs always scan per-dir with `basePath` = the
    * dir (Spark refuses partition discovery across multiple roots —
    * CONFLICTING_DIRECTORY_STRUCTURES); partition pruning still reaches
    * each scan through the union, and [[checkpoint]] bounds how many
    * branches a long log contributes. */
  private def scanResolved(spark: SparkSession, dirs: Seq[String]): DataFrame =
    scanGroups(spark, dirs.map(d => (d, Seq(d))))

  /** The scan behind [[scanResolved]] and [[scanResolvedFiles]]: `groups`
    * pairs each commit data dir with the paths to read under it (the dir
    * itself, or a file subset). A flat dir's schema comes from its
    * footer ([[flatSchema]]), so no scan runs Spark's inference job; one
    * shared footer schema across every group is the single scan, and
    * anything else — drift, a partitioned dir (scanned with `basePath`
    * = the dir, its schema inferred), a dir without data files — is the
    * by-name union. */
  private def scanGroups(spark: SparkSession,
      groups: Seq[(String, Seq[String])]): DataFrame = {
    val schemas = groups.map { case (d, _) => flatSchema(d) }
    def scanGroup(dir: String, paths: Seq[String],
        schema: Option[org.apache.spark.sql.types.StructType]): DataFrame =
      if (schema.isEmpty && isHivePartitioned(dir))
        DeleteVectors.scanWithRowId(spark, paths, basePath = Some(dir))
      else DeleteVectors.scanWithRowId(spark, paths, schema = schema)
    schemas.distinct match {
      case Seq(one @ Some(_)) => DeleteVectors.scanWithRowId(spark, groups.flatMap(_._2), schema = one)
      case _ =>
        groups.zip(schemas).map { case ((d, ps), f) => scanGroup(d, ps, f) }
          .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The Spark schema of a FLAT commit data dir: its first data file's
    * footer ([[ParquetIO.firstDataFile]] — one listing). Cached by that
    * FILE's path, which carries its writing job's unique id, so a
    * dropped and recreated table never reuses an entry (dumb full-clear
    * cap like the snapshot cache). None for a partitioned dir or a dir
    * with no data file. */
  private val footerSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()
  private def flatSchema(dir: String): Option[org.apache.spark.sql.types.StructType] =
    ParquetIO.firstDataFile(dir).map { f =>
      val key = f.toString
      val cached = footerSchemaCache.get(key)
      if (cached != null) cached
      else {
        val schema = ParquetIO.footerSchema(f)
        if (footerSchemaCache.size > 4096) footerSchemaCache.clear()
        footerSchemaCache.put(key, schema)
        schema
      }
    }

  /** The commit data dir a file belongs to: the nearest ancestor named
    * `c<k>` under `…/data` — the direct parent for a flat commit, a
    * higher ancestor when the commit is hive-partitioned
    * (`c<k>/<col>=<val>/part-….parquet`). */
  private def commitDirOf(file: String): String = {
    var p = new org.apache.hadoop.fs.Path(file).getParent
    while (p != null) {
      val parent = p.getParent
      if (p.getName.matches("c\\d+") && parent != null &&
          parent.getName == "data") return p.toString
      p = parent
    }
    new org.apache.hadoop.fs.Path(file).getParent.toString
  }

  /** [[scanResolved]] over an explicit FILE subset (the skipping
    * paths): files group back to their commit dirs to detect schema
    * drift, commit order preserved. Groups with files below partition
    * subdirectories scan with `basePath` = the commit dir, so the
    * partition columns a [[writeData]] `partitionBy` moved into
    * directory names come back as columns. */
  private def scanResolvedFiles(spark: SparkSession,
      files: Seq[String]): DataFrame =
    scanGroups(spark, files
      .groupBy(commitDirOf)
      .toSeq
      .sortBy { case (d, _) =>
        new org.apache.hadoop.fs.Path(d).getName.stripPrefix("c").toLong
      })

  /** Create the table: the initial snapshot becomes commit 0.
    * `partitionCols` (round 18) lays the commit out hive-partitioned —
    * subsequent writes should pass the same columns (each commit's
    * layout is independent; readers reconcile by name either way). An
    * EMPTY initial snapshot must be created FLAT (partitionCols off): a
    * partitioned write of zero rows leaves no schema-bearing file, while
    * the flat empty file records the schema — [[graft.streaming.Streams.txUpsertSink]]'s
    * first-batch pattern. */
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
      conflictKeys: Seq[String] = Seq.empty): Long = {
    require(conflictKeys.forall(df.columns.contains),
      s"txtable.append: conflictKeys ${conflictKeys.mkString(",")} " +
        s"missing from batch (${df.columns.mkString(",")})")
    commitWith(spark, root) { _ =>
      Some(_ => Legs(adds = Some(df), bloomCols = bloomCols,
        partitionCols = partitionCols, prune = false,
        keys = Some(conflictKeys).filter(_.nonEmpty)
          .map(ks => df.select(ks.map(col): _*).distinct())))
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
  def readAt(spark: SparkSession, root: String, asOf: Long): DataFrame = {
    val ks = resolvedIds(root, asOf)
    require(ks.nonEmpty, s"txtable: no commits ≤ $asOf under $root")
    val data = existingDataDirs(root, ks)
    require(data.nonEmpty, s"txtable: no data dirs among commits ≤ $asOf")
    DeleteVectors.applyVectors(scanResolved(spark, data), dvIndex(root, ks))
  }

  /** The live rows of the snapshot `snap` WITH row identity
    * (`__dv_file`, `__dv_row`) — what every kill leg marks dead. */
  private def liveWithId(spark: SparkSession, root: String,
      snap: Seq[Long]): DataFrame = {
    val rks = resolvedOf(root, snap)
    DeleteVectors.applyVectorsKeepId(
      scanResolved(spark, existingDataDirs(root, rks)), dvIndex(root, rks))
  }

  private def keysDir(root: String, k: Long) = s"$root/_txn/keys/$k"

  /** Driver-side footer row count of a just-written commit dir — the
    * post-write emptiness decision costs footer reads (bounded by the
    * BATCH-sized file count), never a Spark job: the old `isEmpty`
    * probes re-executed the plan that produced the files (the adds
    * anti-join ran twice per upsert — round-18 profile). */
  private def writtenRows(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    if (!Fs.isDirectory(dir)) return 0L
    val conf = Fs.conf()
    def footerRows(p: org.apache.hadoop.fs.Path): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
      finally r.close()
    }
    // PARALLEL footer reads (round 19, r18 verdict's wrong #2): a
    // hive-partitioned commit writes ~tasks x values files, and each
    // footer is an independent open+read round-trip
    onLegPool(Fs.listFilesRecursive(dir).filter(isPartFile).map(_.getPath))(footerRows).sum
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
    *    marker. */
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
      checkpoint: Boolean = false)

  /** A commit's read snapshot — the committed ids at its one listing —
    * and the frames the operation persisted for it, which [[commitWith]]
    * unpersists once the commit resolves either way. */
  private final class Snapshot(val ids: Seq[Long],
      held: scala.collection.mutable.Buffer[DataFrame]) {
    def cache(df: DataFrame): DataFrame = {
      held += df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    }
  }

  /** One daemon pool for every commit's legs, reused across commits.
    * Legs never wait on each other, so the fixed bound can only queue
    * them, never deadlock; idle threads time out. */
  private lazy val legPool: java.util.concurrent.ExecutorService = {
    val pool = new java.util.concurrent.ThreadPoolExecutor(16, 16,
      60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "txtable-leg")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** `f` over `xs` on the leg pool: driver-side reads (footers, DV
    * sidecars) overlapped, still no Spark job — serially at
    * object-store latency each is a round-trip. Two or fewer run inline.
    * The caller is never a pool thread, so waiting cannot deadlock. */
  private def onLegPool[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 2) xs.map(f)
    else xs.map(x => legPool.submit(new java.util.concurrent.Callable[B] {
      override def call(): B = f(x)
    })).map(_.get())

  /** Run a commit's independent legs together (round 22, guide §2.6):
    * the protocol orders every leg before the marker but never legs
    * among themselves, so their per-action fixed costs (job scheduling,
    * AQE stage materialization, output commit) overlap. Frames the legs
    * share are safe under concurrent first materialization: the block
    * manager serializes per-partition cache writes. Each leg runs with
    * the caller's Spark thread-locals (job group, description, active
    * session). EVERY leg completes before the first failure propagates —
    * the abandon path must never race a leg still writing. */
  private def runLegs(spark: SparkSession, legs: Seq[() => Unit]): Unit =
    if (legs.size <= 1) legs.foreach(_())
    else {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val futures = legs.map(leg => org.apache.spark.sql.execution.SQLExecution
        .withThreadLocalCaptured(session, legPool)(leg()))
      val errs = futures.flatMap { f =>
        try { f.get(); None }
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Some(Option(e.getCause).getOrElse(e))
        }
      }
      errs.headOption.foreach(e => throw e)
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
    try plan(new Snapshot(committedIds(root), held)) match {
      case None =>
        claimed.foreach(abandon)
        None
      case Some(legsFor) =>
        val k = claimed.getOrElse(claimId(root))
        claimed = Some(k)
        val legs = legsFor(k)
        runLegs(spark, Seq(
          legs.kills.map(kdf => () => DeleteVectors.buildVectors(
              kdf.select(col("__dv_file").as("file_path"), col("__dv_row").as("ri")))
            .write.mode("overwrite").parquet(dvDir(root, k))),
          legs.adds.map(adf => () => writeData(adf, dataDir(root, k),
            legs.bloomCols, legs.partitionCols, legs.precluster)),
          legs.check,
          legs.keys.map(kdf => () =>
            kdf.write.mode("overwrite").parquet(keysDir(root, k)))).flatten)
        if (legs.prune) {
          if (legs.kills.nonEmpty) pruneIfEmpty(dvDir(root, k))
          if (legs.adds.nonEmpty) pruneIfEmpty(dataDir(root, k))
        }
        legs.validate()
        if (legs.checkpoint)
          require(Fs.createMarker(s"${checkpointsDir(root)}/c$k", dataDir(root, k)),
            s"txtable: checkpoint marker c$k already exists under $root — " +
              "lost a commit race")
        commit(root, k)
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
      broadcastKeyLimit: Long = 4L * 1000 * 1000,
      partitionCols: Seq[String] = Seq.empty,
      conflictDetect: Boolean = false,
      conflictWaitMs: Long = 60L * 1000): Long = {
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
          val cand = s.cache(liveWithId(spark, root, s.ids).join(keySide, keys))
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
                keys, conflictWaitMs))
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
      Some(_ => Legs(kills = Some(liveWithId(spark, root, s.ids)),
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
      broadcastKeyLimit: Long = 4L * 1000 * 1000,
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
      broadcastKeyLimit: Long = 4L * 1000 * 1000,
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
          val live = liveWithId(spark, root, s.ids)
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
    def claims(): Map[Long, Long] = Fs.listFiles(claimsDir(root))
      .filter(_.getPath.getName.matches("c\\d+"))
      .map(st => st.getPath.getName.stripPrefix("c").toLong ->
        st.getModificationTime).toMap
    def unresolved(): Boolean = {
      val committedNow = committedIds(root).toSet
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
    val committedNow = committedIds(root)
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
    def touched(ids: Seq[Long]): Boolean = ids.nonEmpty &&
      !ourKeys.join(spark.read.parquet(ids.map(keysDir(root, _)): _*),
        keys, "left_semi").isEmpty
    validateClaim(root, k, snap, waitMs)(
      below = { ids =>
        val (withKeys, bare) = ids.partition(id => Fs.isDirectory(keysDir(root, id)))
        if (bare.nonEmpty) Some(s"commits ${bare.mkString(",")} landed inside " +
          "its validation window without key sidecars")
        else if (touched(withKeys)) Some(s"its batch keys intersect " +
          s"concurrent commits ${withKeys.mkString(",")}")
        else None
      },
      above = { ids =>
        val up = ids.filter(id => Fs.isDirectory(keysDir(root, id)))
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
          kills = Some(liveWithId(spark, root, s.ids).filter(predicate)),
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
          val matched = s.cache(liveWithId(spark, root, s.ids).filter(predicate))
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
    lazy val cps = markerIds(checkpointsDir(root)).toSet
    def moved(ids: Seq[Long]): Seq[Long] = ids.filter(c =>
      cps.contains(c) ||
        (Fs.isDirectory(dvDir(root, c)) && Fs.isDirectory(dataDir(root, c)) &&
          dvFileKeys(root, Seq(c)).exists(ourFiles.contains)))
    validateClaim(root, k, snap, waitMs)(
      below = ids => Some(moved(ids)).filter(_.nonEmpty).map(m =>
        s"its kill files were moved by concurrent commits ${m.mkString(",")}"),
      above = ids => Some(moved(ids)).filter(_.nonEmpty).map(m =>
        s"commits ${m.mkString(",")} above it moved rows out of its files"))
  }

  private def statsPath(root: String) = s"$root/_txn/stats/manifest"

  /** The data FILES of an explicit resolution set — every skipping
    * decision and its DV fold must derive from ONE `resolvedIds` call
    * (one commit-log listing): listing twice lets a commit land between
    * the listings, and a reader that applies the new commit's deletion
    * vectors without its adds sees a half-applied batch — the snapshot
    * torn read [[readAt]]'s single listing exists to prevent. Recursive
    * listing, so hive-partitioned commit dirs ([[create]]'s
    * `partitionCols`) contribute their leaf files. */
  private def filesOf(root: String, ks: Seq[Long]): Seq[String] =
    existingDataDirs(root, ks).flatMap(d =>
      Fs.listFilesRecursive(d).map(_.getPath.toString)
        .filter(p => p.endsWith(".parquet") &&
          !new org.apache.hadoop.fs.Path(p).getName.startsWith("_")))

  private def resolvedFiles(root: String, asOf: Long = Long.MaxValue): Seq[String] =
    filesOf(root, resolvedIds(root, asOf))

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
    val files = resolvedFiles(root)
    require(files.nonEmpty, s"txtable: nothing committed under $root")
    StatsManifest.statsFor(spark, files, cols)
      .write.mode("overwrite").parquet(statsPath(root))
    ParquetIO.readFlat(spark, statsPath(root))
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
      lo: Any, hi: Any): DataFrame = {
    // ONE resolution snapshot feeds both the file universe and the DV
    // fold (round-18 advisory: two listings let a commit land between
    // them, applying its deletes without its adds — a torn read)
    val rks = resolvedIds(root)
    val files = filesOf(root, rks)
    require(files.nonEmpty, s"txtable: nothing committed under $root")
    val excluded: Set[String] =
      if (!Fs.isDirectory(statsPath(root))) Set.empty
      else StatsManifest.excludedFiles(
        ParquetIO.readFlat(spark, statsPath(root)), column, lo, hi)
    val survivors = files.filterNot(excluded)
    val pred = col(column) >= lit(lo) && col(column) <= lit(hi)
    if (survivors.isEmpty) read(spark, root).filter(lit(false))
    else
      DeleteVectors.applyVectors(scanResolvedFiles(spark, survivors), dvIndex(root, rks))
        .filter(pred)
  }

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
      column: String, value: Any): DataFrame = {
    // same single-snapshot discipline as [[readSkipping]]
    val rks = resolvedIds(root)
    val files = filesOf(root, rks)
    require(files.nonEmpty, s"txtable: nothing committed under $root")
    val excluded: Set[String] =
      if (!Fs.isDirectory(statsPath(root))) Set.empty
      else StatsManifest.excludedFiles(
        ParquetIO.readFlat(spark, statsPath(root)), column, value, value)
    val candidates = files.filterNot(excluded)
    val survivors = StatsManifest.bloomSurvivors(spark, candidates, column, value)
    if (survivors.isEmpty) read(spark, root).filter(lit(false))
    else
      DeleteVectors.applyVectors(scanResolvedFiles(spark, survivors), dvIndex(root, rks))
        .filter(col(column) === lit(value))
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
   * dir, each row's commit read from its file's `c<k>` dir
   * ([[commitDirOf]]'s rule, so flat and hive-partitioned files both
   * resolve); one scan of the union kill-file set, each killed row
   * labelled by the commit whose vector kills it; one full-outer join
   * keyed (keys, commit). The join key carries the commit, so adds and
   * kills never compare across commits, and the plan keeps O(1) join
   * branches however long the log. Schema drift is the scans' own
   * by-name union ([[scanGroups]]); both sides are then widened to the
   * union of their columns, null where a commit lacks one, so a column
   * absent from both sides of a commit compares equal.
   *
   * A table column named `op` or `commit` (any case) would clash with
   * the feed's own columns, so the call fails up front naming it.
   */
  def changeFeed(spark: SparkSession, root: String, keys: Seq[String],
      fromCommit: Long = 0L, withPreimage: Boolean = false,
      toCommit: Long = Long.MaxValue): DataFrame = {
    require(keys.nonEmpty, "txtable.changeFeed needs key columns")
    val all = committedIds(root)
    require(all.nonEmpty, s"txtable: nothing committed under $root")
    val cps = checkpointIds(root).toSet
    val feedIds = all.filter(k =>
      k >= fromCommit && k <= toCommit && !cps.contains(k))
    // the feed commits' sidecars, read once on the driver: every
    // commit's touched files and its kills, with no Spark job
    val vectors = dvVectors(root, feedIds)
    val addDirs = existingDataDirs(root, feedIds)
    val killFiles = vectors.map(_._2.file).distinct.sorted
    val adds = Some(addDirs).filter(_.nonEmpty).map(scanResolved(spark, _))
    val killScan = Some(killFiles).filter(_.nonEmpty).map(scanResolvedFiles(spark, _))
    val fields = (adds.toSeq ++ killScan).flatMap(_.schema.fields)
      .filterNot(f => f.name == "__dv_file" || f.name == "__dv_row")
      .foldLeft(Vector.empty[org.apache.spark.sql.types.StructField]) {
        (acc, f) => if (acc.exists(_.name == f.name)) acc else acc :+ f
      }
    lazy val base = read(spark, root)
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
    val ofFile = regexp_extract(col("__dv_file"), "^.*/data/c(\\d+)/", 1).cast("long")
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
   * an ANN/dedup state — [[graft.streaming.Streams.txFeedSink]]) follow
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
      cursor: Long, withPreimage: Boolean = false): Option[(DataFrame, Long)] = {
    val all = committedIds(root)
    require(all.nonEmpty, s"txtable: nothing committed under $root")
    // LOUD, never lossy (round 18): if maintenance expired commits the
    // consumer has not read, the silent alternative is a feed that just
    // skips them — a changelog with holes. Gaps ABOVE the oldest commit
    // are fine (abandoned claims never committed anything).
    require(cursor < 0 || cursor + 1 >= all.min,
      s"txtable: changeFeedFrom cursor $cursor predates the retained " +
        s"history (oldest commit ${all.min}) — the consumer fell behind " +
        "checkpoint+expire maintenance; rebuild its state from a snapshot " +
        "read and resume from the current tip")
    // a FRESH consumer (cursor < 0) on a FOLDED table is the same hole
    // from the other side (round 19, r18 advisory): checkpoint commits
    // are feed-invisible by design, so once expire collapsed history the
    // feed can no longer reconstruct the folded base rows — a changelog
    // starting from nothing would silently miss all of them. Loud, never
    // lossy: bootstrap from a snapshot read (the
    // [[graft.streaming.Streams.txVectorStateSync]] /
    // [[graft.streaming.Streams.txFeedSink]] pattern) and resume from
    // the returned tip.
    require(cursor >= 0 || all.min == 0,
      s"txtable: changeFeedFrom with a fresh cursor ($cursor) on a folded " +
        s"table (oldest commit ${all.min} > 0) — the folded base rows are " +
        "feed-invisible; bootstrap the consumer from a snapshot read " +
        "(emit it as inserts at the listed tip) and resume from that tip")
    val tip = all.max
    if (tip <= cursor) None
    // bounded ABOVE at the listed tip too: a commit landing between this
    // listing and changeFeed's own would otherwise be emitted both now
    // and after the advanced cursor — a duplicate
    else Some((changeFeed(spark, root, keys, fromCommit = cursor + 1,
      withPreimage = withPreimage, toCommit = tip), tip))
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
   * from the DV sidecars alone (popcount per file); live totals from a
   * footer pass over the DV-carrying files only — no data read decides
   * anything, and no id is claimed until a fold is due. Returns the
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
      val rks = resolvedOf(root, s.ids)
      val dv = dvIndex(root, rks)
      val deadPerFile = dv.deadPerFile
      // vectors can reference files already folded out of the resolution
      // set (e.g. pre-checkpoint) — only files still resolved count; the
      // SAME rks snapshot that fed the fold (one listing per operation)
      val cands =
        if (deadPerFile.isEmpty) Seq.empty
        else {
          val universe = filesOf(root, rks).map(pathKey).toSet
          deadPerFile.keys.filter(f => universe.contains(pathKey(f))).toSeq.sorted
        }
      val hot =
        if (cands.isEmpty) Seq.empty
        else {
          val totals = StatsManifest.rowCounts(spark, cands)
          cands.filter(f => deadPerFile(f).toDouble /
            math.max(1L, totals.getOrElse(f, 1L)) >= minDeadFraction)
        }
      // fully dead files: nothing to move
      val liveHot = Some(hot).filter(_.nonEmpty).map(h => s.cache(
          DeleteVectors.applyVectorsKeepId(scanResolvedFiles(spark, h), dv)))
        .filterNot(_.isEmpty)
      liveHot.map(moving => { k =>
        fence("compactFiles", root, k, s.ids, s.ids)
        val parts = math.max(1L, ParquetIO.inputBytes(spark, hot) /
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
            val committedNow = fence("compactFiles", root, k, s.ids, committedIds(root))
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
    * again before the marker against a fresh listing `committedNow`: a
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
    val inFlight = markerIds(claimsDir(root)).filter(c => c < k && !committed.contains(c))
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
   * readable ([[readAt]]) until [[expire]] collapses it.
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
        val ks = resolvedOf(root, s.ids, k)
        val data = existingDataDirs(root, ks)
        val live = DeleteVectors.applyVectors(scanResolved(spark, data), dvIndex(root, ks))
        val parts = math.max(1L, ParquetIO.inputBytes(spark, data) /
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
          checkpoint = true,
          validate = { () =>
            val committedNow = fence("checkpoint", root, k, s.ids, committedIds(root))
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
            val dvAbove = committedNow.filter(c => c > k && Fs.isDirectory(dvDir(root, c)))
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
    markerIds(dir).filter(_ < cursor)
      .foreach(k => Fs.deleteIfExists(s"$dir/c$k"))
  }

  /** Forget a consumer: its floor no longer holds history. */
  def unregisterCursor(root: String, name: String): Unit =
    Fs.deleteRecursive(new org.apache.hadoop.fs.Path(s"${cursorsDir(root)}/$name"))

  /** Every registered consumer's applied position — (name, cursor). */
  def registeredCursors(root: String): Seq[(String, Long)] = {
    val dir = cursorsDir(root)
    if (!Fs.isDirectory(dir)) Seq.empty
    else Fs.listDirs(dir).map(_.getPath.getName).sorted.flatMap { n =>
      markerIds(s"$dir/$n").lastOption.map(n -> _)
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
  def expire(spark: SparkSession, root: String): Seq[Long] =
    checkpointIds(root).lastOption match {
      case None => Seq.empty
      case Some(cp) =>
        val cutoff = cursorFloor(root).map(math.min(cp, _)).getOrElse(cp)
        val all = committedIds(root)
        // KILL-SOURCE retention (round 19): a retained feed commit's
        // deletion vectors name files of OLDER commits — the feed's
        // `d`/`u` rows resolve their last-known values from exactly
        // those files — so any commit below the floor that a retained
        // pre-checkpoint commit's DVs reference survives whole too.
        // Decided from the tiny DV sidecars, read on the driver; no data
        // page is read.
        val referenced: Set[Long] =
          dvVectors(root, all.filter(id => id >= cutoff && id < cp))
            .map(v => new org.apache.hadoop.fs.Path(commitDirOf(v._2.file))
              .getName.stripPrefix("c"))
            .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong).toSet
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
    val committed = committedIds(root)
    val cps = checkpointIds(root).toSet
    // ALL commits' kill counts from the (tiny) sidecars, read on the
    // driver — no Spark job
    val killed: Map[Long, Long] = dvVectors(root, committed).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2.nDeleted).sum }
    // commit wall-clocks (round 20): the stamped ts= marker field, mtime
    // fallback for pre-stamp tables — the TIMESTAMP AS OF data source
    val stamps = commitTimestamps(root).toMap
    val rows = committed.map { k =>
      val d = dataDir(root, k)
      // recursive: hive-partitioned commits keep their leaf files below
      // <col>=<val>/ subdirectories (round 18)
      val files =
        if (!Fs.isDirectory(d)) Seq.empty
        else Fs.listFilesRecursive(d).filter { f =>
          f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.getName.startsWith("_")
        }
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
   * listings + the DV-sidecar popcount pass — no data page is read to
   * decide anything.
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
    val rks = resolvedIds(root)
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
        fs.exists(p) && fs.getFileStatus(p).getModificationTime > cutoff
      } catch { case scala.util.control.NonFatal(_) => true } // unknown age: keep
    // ONE grace verdict per id, over every artifact the id has: a claim
    // stamped recently protects its (possibly mid-write) dirs and vice
    // versa — sweeping is all-or-nothing per id
    def artifacts(id: Long): Seq[String] = Seq(
      s"${claimsDir(root)}/c$id", s"${checkpointsDir(root)}/c$id",
      dataDir(root, id), dvDir(root, id), keysDir(root, id))
    def sweepable(id: Long): Boolean =
      !committed.contains(id) && id < tip && !artifacts(id).exists(youngerThanCutoff)
    def sweep(dir: String, prefix: String, path: Long => String): Seq[String] =
      if (!Fs.isDirectory(dir)) Seq.empty
      else Fs.listDirs(dir).map(_.getPath.getName)
        .filter(n => n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit))
        .map(_.drop(prefix.length).toLong)
        .filter(sweepable)
        .map { id =>
          val p = path(id)
          Fs.deleteRecursive(new org.apache.hadoop.fs.Path(p)); p
        }
    // a crashed checkpoint's marker-without-commit is litter, and so is
    // a claim that never became a commit
    def strayMarkers(dir: String): Seq[String] =
      markerIds(dir)
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
