package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `file:` FileSystem that counts metadata and data calls. Registered as
  * `fs.file.impl` in the traced run only, so every code path keeps the
  * `file:` scheme it has in the untraced run. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = { bump(List); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { bump(Status); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { bump(Open); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    bump(Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { bump(Rename); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { bump(Delete); super.delete(f, recursive) }
}

object CountingLocalFileSystem {
  val Names: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete")
  private val List = 0; private val Status = 1; private val Open = 2
  private val Create = 3; private val Rename = 4; private val Delete = 5
  private val counts = new AtomicLongArray(Names.size)
  private def bump(i: Int): Unit = counts.incrementAndGet(i)
  def snapshot(): Array[Long] = Array.tabulate(Names.size)(counts.get)
}

/** Per-call accumulator of everything the probes attribute to one call. */
final class OpStats(val id: Int, val cycle: Int, val name: String) {
  var startNs = 0L
  var endNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var output = 0L
  var spill = 0L
  var executions = 0L
  var exchanges = 0L
  var bhj = 0L
  var planStages = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var planningMs = 0L
  var codegenNs = 0L
  var codegenUnits = 0L
  var gcMs = 0L
  val fs: Array[Long] = new Array[Long](CountingLocalFileSystem.Names.size)
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]   // (job id, start ms, end ms)
  def seconds: Double = (endNs - startNs) / 1e9

  /** Wall time of the call not covered by any Spark job: planning,
    * work outside tasks, file-system metadata calls and scheduling between
    * jobs. */
  def offJobGapS(epochMs: Long => Double): Double = {
    val start = epochMs(startNs)
    val end = epochMs(endNs)
    val ivs = jobSpans.map { case (_, s, e) => (math.max(s.toDouble, start), math.min(e.toDouble, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    math.max(0.0, (end - start) - covered) / 1e3
  }
}

/**
 * The traced run's external probes: a SparkListener (jobs, stages, tasks,
 * task metrics), a QueryExecutionListener (executed plan shape and
 * planning-phase times), the counting `file:` FileSystem, and JVM-wide
 * codegen and GC counters read before and after each call. All records
 * stay in memory until the run ends.
 *
 * Attribution: the listener bus is drained before a call starts and after
 * it ends (both outside the timed region), so every event delivered while a
 * call is current belongs to it. Work between calls (input generation,
 * checks) is attributed to nothing.
 */
final class Probes extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val ops = ArrayBuffer.empty[OpStats]
  @volatile private var current: OpStats = null
  private val stageOwner = new ConcurrentHashMap[Int, OpStats]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private var spark: SparkSession = _
  private val ns0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  def epochMs(ns: Long): Double = ms0 + (ns - ns0) / 1e6

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  private def drain(): Unit = org.apache.spark.graftbench.BusDrain(spark.sparkContext)

  private var fs0: Array[Long] = _
  private var cg0 = 0L
  private var cgUnits0 = 0L
  private var gc0 = 0L

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def begin(id: Int, cycle: Int, name: String): Unit = {
    drain()
    val op = new OpStats(id, cycle, name)
    ops += op
    fs0 = CountingLocalFileSystem.snapshot()
    cg0 = CodeGenerator.compileTime
    cgUnits0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    gc0 = gcMs()
    current = op
  }

  def end(id: Int, t0: Long, t1: Long): Unit = {
    drain()
    val op = current
    current = null
    op.startNs = t0
    op.endNs = t1
    val fs1 = CountingLocalFileSystem.snapshot()
    fs1.indices.foreach(i => op.fs(i) = fs1(i) - fs0(i))
    op.codegenNs = CodeGenerator.compileTime - cg0
    op.codegenUnits = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgUnits0
    op.gcMs = gcMs() - gc0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = current
    if (op != null) {
      op.jobs += 1
      e.stageIds.foreach(stageOwner.put(_, op))
      jobStart.put(e.jobId, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val op = current
    val s = jobStart.remove(e.jobId)
    if (op != null && s != null) op.jobSpans += ((e.jobId, s.longValue, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOwner.get(e.stageId)
    val m = e.taskMetrics
    if (op != null && m != null) {
      op.tasks += 1
      op.taskMs += e.taskInfo.duration
      op.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      op.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      op.input += m.inputMetrics.bytesRead
      op.output += m.outputMetrics.bytesWritten
      op.spill += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val op = current
    if (op != null) {
      op.executions += 1
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      op.analysisMs += ms("analysis")
      op.optimizerMs += ms("optimization")
      op.planningMs += ms("planning")
      val plan: SparkPlan = qe.executedPlan
      op.exchanges += collect(plan) { case x: Exchange => x }.size
      op.bhj += collect(plan) { case j: BroadcastHashJoinExec => j }.size
      // materialized adaptive stages plus the result stage
      op.planStages += collect(plan) { case q: QueryStageExec => q }.size + 1
    }
  }

  /** True when `file:` resolves to the counting FileSystem. */
  def counting(conf: Configuration): Boolean =
    new Path("file:///").getFileSystem(conf).isInstanceOf[CountingLocalFileSystem]
}
