package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/**
 * Round-21 optimization profiler: run named queries once (after a warm
 * pass) with a listener that attributes wall time to Spark jobs — the
 * local-mode substitute for the Spark UI's job/stage tables (guide §1/§7).
 * For each query prints: wall, #jobs, #stages that ran tasks, Σ task
 * time, shuffle read/write bytes, and the slowest jobs with their
 * descriptions. What it separates:
 * scheduling/driver overhead (many tiny jobs: wall ≫ Σtask/cores) from
 * compute (few jobs, task time ≈ wall × cores) from shuffle volume.
 *
 *   sbt "runMain graft.JobProfile q_dedup_hybrid q_ann_state_sync"
 */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SessionDefaults(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus))
      .config("spark.ui.enabled", "false")
    // experiment passthrough: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    final case class JobRec(id: Int, desc: String, var submitted: Long = 0L,
      var completed: Long = 0L, var tasks: Int = 0, var taskTimeMs: Long = 0L,
      var shufReadB: Long = 0L, var shufWriteB: Long = 0L, var inputB: Long = 0L)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val ranStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        val r = JobRec(e.jobId, desc); r.submitted = e.time
        jobs.put(e.jobId, r)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.completed = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        ranStages.add(e.stageId)
        val jid = stageToJob.get(e.stageId)
        val r = jobs.get(jid)
        if (r != null && e.taskMetrics != null) r.synchronized {
          r.tasks += 1
          r.taskTimeMs += e.taskInfo.duration
          r.shufReadB += e.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shufWriteB += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          r.inputB += e.taskMetrics.inputMetrics.bytesRead
        }
      }
    }

    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "1").toInt
    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    val all = SparkEntry.queries
    names.foreach { name =>
      val fn = all.getOrElse(name, sys.error(s"unknown query $name"))
      // warm pass (JIT + page cache) — not profiled
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // unprofiled extra reps for a median wall (host-noise rejection)
      val extraWalls = (1 until reps).map { _ =>
        val t = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      jobs.clear(); stageToJob.clear(); ranStages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall0 = (System.nanoTime() - t0) / 1e9
      val allWalls = (extraWalls :+ wall0).sorted
      val wall = allWalls(allWalls.size / 2)
      if (reps > 1) println(f"== $name medianWall=$wall%.2fs walls=" +
        allWalls.map(w => f"$w%.2f").mkString(","))
      // drain the listener bus so late task events land (private API —
      // a short sleep is enough for a profiler)
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val rs = jobs.values.asScala.toSeq.sortBy(_.id)
      val nJobs = rs.size
      val sumTask = rs.map(_.taskTimeMs).sum / 1e3
      val sumJobWall = rs.map(r => math.max(0L, r.completed - r.submitted)).sum / 1e3
      val gaps = wall - sumJobWall
      val sr = rs.map(_.shufReadB).sum / 1e6
      val sw = rs.map(_.shufWriteB).sum / 1e6
      val in = rs.map(_.inputB).sum / 1e6
      println(f"== $name wall=$wall%.2fs jobs=$nJobs stages=${ranStages.size} taskSum=$sumTask%.1fs " +
        f"jobWallSum=$sumJobWall%.2fs offJobGap=$gaps%.2fs shufR=$sr%.1fMB shufW=$sw%.1fMB input=$in%.1fMB")
      val byDesc = rs.groupBy(_.desc.takeWhile(_ != '+').trim)
        .map { case (d, js) => (d, js.size,
          js.map(r => math.max(0L, r.completed - r.submitted)).sum / 1e3) }
        .toSeq.sortBy(-_._3)
      byDesc.take(14).foreach { case (d, n, w) =>
        println(f"   site n=$n%3d wall=$w%6.2fs  ${d.take(100)}")
      }
      rs.sortBy(r => -(r.completed - r.submitted)).take(12).foreach { r =>
        val w = (r.completed - r.submitted) / 1e3
        println(f"   job ${r.id}%4d ${w}%6.2fs tasks=${r.tasks}%4d taskT=${r.taskTimeMs / 1e3}%6.1fs " +
          f"sr=${r.shufReadB / 1e6}%8.2fMB in=${r.inputB / 1e6}%8.2fMB  ${r.desc.take(90)}")
      }
    }
    val cm = org.apache.spark.metrics.source.CodegenMetrics
    println(f"== codegen: units=${cm.METRIC_COMPILATION_TIME.getCount} " +
      f"totalMs=${cm.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum} " +
      f"meanMs=${cm.METRIC_COMPILATION_TIME.getSnapshot.getMean}%.1f")
    spark.stop()
  }
}
