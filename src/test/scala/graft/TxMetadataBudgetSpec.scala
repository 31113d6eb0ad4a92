package graft

import graft.sources.TxTable
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local store under the `countfs:` scheme that counts the metadata
  * calls a client makes of it: listings, status probes and opens. The
  * store's calls to itself are not counted — a local listing stats each
  * child, a create probes its parent — because an object store answers
  * each client call in one round trip. */
class CountingFileSystem extends RawLocalFileSystem {
  import CountingFileSystem.{counted, inner}
  override def getScheme: String = "countfs"
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")

  override def listStatus(f: Path): Array[FileStatus] =
    counted(CountingFileSystem.lists)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    counted(CountingFileSystem.statuses)(super.getFileStatus(f))
  // the local store answers exists from java.io; a remote one sends a HEAD
  override def exists(f: Path): Boolean =
    counted(CountingFileSystem.statuses)(super.exists(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(CountingFileSystem.opens)(super.open(f, bufferSize))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    inner(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    inner(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    inner(super.mkdirs(f, permission))
  override def delete(f: Path, recursive: Boolean): Boolean =
    inner(super.delete(f, recursive))
  override def rename(src: Path, dst: Path): Boolean = inner(super.rename(src, dst))
}

object CountingFileSystem {
  val lists = new java.util.concurrent.atomic.AtomicLong
  val statuses = new java.util.concurrent.atomic.AtomicLong
  val opens = new java.util.concurrent.atomic.AtomicLong
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Count `c` once for a client call; nested calls are the store's own. */
  private def counted[A](c: java.util.concurrent.atomic.AtomicLong)(body: => A): A = {
    if (depth.get == 0) c.incrementAndGet()
    inner(body)
  }

  private def inner[A](body: => A): A = {
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}

/**
 * The metadata-call budget of every `TxTable` operation: on a fixed
 * 20-commit table, the listings, status probes and opens each operation
 * makes stay under a pinned ceiling. On an object store each call is a
 * round trip, so a change that adds a listing to an operation shows
 * here as a number, not as a slower benchmark in some later window.
 *
 * Reads and the change feed count their DataFrame's construction — the
 * log reads that plan the scan; executing it reads data pages. The
 * writers count the whole commit, Spark's output committer included.
 * Each ceiling is the highest count seen over five runs of this spec;
 * raising one needs a stated reason.
 */
class TxMetadataBudgetSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    s
  }

  private final case class Calls(list: Long, status: Long, open: Long) {
    def within(b: Calls): Boolean = list <= b.list && status <= b.status && open <= b.open
    override def toString: String = s"list=$list status=$status open=$open"
  }

  /** (list, status, open) ceilings per operation. Before the one-snapshot
    * log reads the same table cost, with an exists counted as a status
    * call: create 2/15/0, read 60/121/20, changeFeed 54/76/10, history
    * 42/125/39, upsert 70/170/41, deleteWhere 70/168/43, mergeInto
    * 74/181/44, maintain 107/296/45. maintain's open ceiling rose from
    * 45 to 68 when `checkpoint` began carrying the stream records of
    * the markers it folds: one open per folded marker, 23 here (the
    * 20-commit table plus the upsert, deleteWhere and mergeInto above).
    * Since scans are built from the snapshot's own listings, Spark lists
    * and probes no data dir: `read` is the snapshot's 1 + 1 + 20 + 20
    * listings and no status call (it was 62/20/20). */
  private val budget: Seq[(String, Calls)] = Seq(
    "create" -> Calls(8, 9, 0),
    "read" -> Calls(42, 0, 20),
    "changeFeed" -> Calls(29, 0, 10),
    "history" -> Calls(42, 0, 39),
    "upsert" -> Calls(53, 36, 41),
    "deleteWhere" -> Calls(52, 30, 43),
    "mergeInto" -> Calls(57, 37, 44),
    "maintain" -> Calls(69, 101, 68),
    "txUpsertBatch" -> Calls(17, 17, 5),
    "readHive" -> Calls(62, 0, 10),
    "changeFeedHive" -> Calls(52, 0, 5))

  /** The session settings that decide how many files a commit writes,
    * pinned to the shared session's defaults for the measurement. */
  private val pinned = Seq("spark.sql.adaptive.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760")

  private def counted[A](body: => A): (A, Calls) = {
    def now() = Calls(CountingFileSystem.lists.get, CountingFileSystem.statuses.get,
      CountingFileSystem.opens.get)
    val before = now()
    val out = body
    val after = now()
    (out, Calls(after.list - before.list, after.status - before.status,
      after.open - before.open))
  }

  test("every TxTable operation stays inside its metadata-call budget on a 20-commit table") {
    val ss = spark
    val before = pinned.map { case (k, v) =>
      val prev = ss.conf.getOption(k)
      ss.conf.set(k, v)
      k -> prev
    }
    try measureAll(ss)
    finally before.foreach {
      case (k, Some(v)) => ss.conf.set(k, v)
      case (k, None) => ss.conf.unset(k)
    }
  }

  private def measureAll(ss: org.apache.spark.sql.SparkSession): Unit = {
    import ss.implicits._
    val root = "countfs:" +
      java.nio.file.Files.createTempDirectory("graft-txbudget").toString + "/t"
    def rows(ids: Seq[Long], v: Long): DataFrame =
      ids.map(i => (i, s"p$i-$v", v)).toDF("id", "payload", "v")
    val got = scala.collection.mutable.LinkedHashMap.empty[String, Calls]

    got("create") = counted(TxTable.create(ss, root, rows(0L until 200L, 0L)))._2
    // 19 upserts: each updates 15 live keys and inserts 5 new ones
    for (c <- 1L to 19L)
      TxTable.upsert(ss, root,
        rows((0L until 15L).map(j => (c * 37 + j * 11) % 200) ++
          (0L until 5L).map(j => 1000L + c * 5 + j), c),
        Seq("id"), "v")
    assert(TxTable.committedIds(root).size === 20)

    got("read") = counted(TxTable.read(ss, root))._2
    got("changeFeed") = counted(TxTable.changeFeed(ss, root, Seq("id"), fromCommit = 10L))._2
    got("history") = counted(TxTable.history(ss, root))._2
    got("upsert") = counted(TxTable.upsert(ss, root,
      rows((0L until 15L) ++ (2000L until 2005L), 20L), Seq("id"), "v"))._2
    got("deleteWhere") = counted(TxTable.deleteWhere(ss, root, col("id") % 7 === 3L))._2
    got("mergeInto") = counted(TxTable.mergeInto(ss, root,
      rows((20L until 35L) ++ (3000L until 3005L), 21L), Seq("id")))._2
    got("maintain") = counted(TxTable.maintain(ss, root, maxTail = 3))._2
    // one `format("txtable")` sink batch (no fold cadence): the replay
    // check, the create check and the MERGE
    got("txUpsertBatch") = counted(graft.streaming.Streams.txUpsertBatch(ss, root,
      rows((40L until 55L) ++ (4000L until 4005L), 22L), 0L, Seq("id"), "v", None, 0,
      Nil, Nil, conflictDetect = false, 60000L, "budget"))._2

    // a 10-commit hive-partitioned table: every commit dir holds 4
    // `part=<p>` subdirectories
    val hive = root + "-hive"
    def parted(ids: Seq[Long], v: Long): DataFrame = rows(ids, v).withColumn("part", col("id") % 4)
    TxTable.create(ss, hive, parted(0L until 200L, 0L), partitionCols = Seq("part"))
    for (c <- 1L to 9L)
      TxTable.upsert(ss, hive,
        parted((0L until 15L).map(j => (c * 37 + j * 11) % 200) :+ (1000L + c), c),
        Seq("id"), "v", partitionCols = Seq("part"))
    got("readHive") = counted(TxTable.read(ss, hive))._2
    got("changeFeedHive") = counted(TxTable.changeFeed(ss, hive, Seq("id"), fromCommit = 5L))._2
    assert(TxTable.read(ss, hive).count() === 209L)

    // the operations still did their work
    val live = TxTable.read(ss, root)
    assert(live.filter(col("id") % 7 === 3L && col("id") < 20L).isEmpty)
    assert(live.filter(col("id") === 3000L).count() === 1L)
    assert(TxTable.checkpointIds(root).nonEmpty)

    got.foreach { case (op, c) => println(s"[txbudget] $op $c") }
    val over = budget.collect { case (op, b) if !got(op).within(b) =>
      s"$op: ${got(op)} over its budget $b" }
    assert(over.isEmpty, over.mkString("; "))
  }
}
