package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SessionDefaults
import graft.sources.Fs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.LocalFileSystem
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/**
 * Benchmark entry point: one workload, one seed, one JVM.
 *
 *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                   --fixtures <dir> --work <dir> --out <dir>
 *
 * Set-up (JVM start, session, warm-up, and the median of three input
 * generations) is followed by a closed loop with one client that runs
 * cycles until `--seconds` have passed and at least one cycle is done, then
 * by the output checks. The last stdout
 * line is the result: end-to-end metrics untraced, per-layer metrics
 * traced. Records, spans and per-call detail go under `--out`.
 */
object Main {
  private val SetupReps = 3
  private val HardStopS = 90

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = arg("work")
    val out = arg("out")
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = workload match {
      case "parquet_merge" => new ParquetMergeWorkload
      case "tx_cdc" => new TxCdcWorkload
      case "pipeline_queries" => new PipelineWorkload(PipelineWorkload.Queries)
      case other => sys.error(s"unknown workload $other")
    }

    val probes = if (trace) Some(new Probes) else None
    val b = SessionDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, seed, work, arg("fixtures"), probes)
    try {
      val bootS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      probes.foreach(_.attach(spark))
      val atomic = Fs.atomicCreateSupport(s"$work/probe")
      probes.foreach { p =>
        ctx.check("traced run resolves file: to the counting FileSystem") {
          p.counting(spark.sparkContext.hadoopConfiguration)
        }
        val plain = new Configuration()
        plain.set("fs.file.impl", classOf[LocalFileSystem].getName)
        plain.setBoolean("fs.file.impl.disable.cache", true)
        ctx.check("atomicCreateSupport answers the same with and without the probe") {
          Fs.atomicCreateSupport(s"$work/probe", plain) == atomic
        }
      }
      def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
      val prep1 = timed(wl.prepare(ctx))
      val warmS = timed(wl.warmup(ctx))
      val prepS = prep1 +: (2 to SetupReps).map(_ => timed(wl.prepare(ctx)))
      val setupS = bootS + warmS + Stats.median(prepS)
      Log(f"set-up $setupS%.3f s (boot $bootS%.3f, warm-up $warmS%.3f, inputs ${prepS.map(x => f"$x%.3f").mkString("/")})")

      val t0 = System.nanoTime()
      val deadline = t0 + seconds * 1000000000L
      val hardStop = t0 + HardStopS * 1000000000L
      var i = 0
      val failedCycles = scala.collection.mutable.Set.empty[Int]
      while ((i == 0 || System.nanoTime() < deadline) && System.nanoTime() < hardStop) {
        ctx.cycle = i
        try wl.cycle(ctx, i)
        catch {
          case NonFatal(e) =>
            Log(s"cycle $i failed: $e")
            e.printStackTrace()
            failedCycles += i
            // a failure outside any call still fails the cycle's work
            if (!ctx.calls.lastOption.exists(c => c.cycle == i && !c.ok))
              ctx.check(s"cycle $i: $e")(false)
        }
        i += 1
      }
      val windowS = (System.nanoTime() - t0) / 1e9
      val verifyS = timed {
        try wl.verify(ctx)
        catch { case NonFatal(e) => ctx.check(s"verify: $e")(false) }
      }
      Log(f"window $windowS%.3f s ($i cycles), checks $verifyS%.3f s")

      val cycleSums = ctx.calls.groupBy(_.cycle)
        .collect { case (c, cs) if !failedCycles(c) => cs.map(_.seconds).sum }.toSeq
      val okCalls = ctx.calls.filter(_.ok)
      val failedCalls = ctx.calls.size - okCalls.size
      val attempted = ctx.calls.size + ctx.checks
      val failed = failedCalls + ctx.failedChecks
      val e2e = Seq(
        ("setup_s", "s", setupS),
        ("cycle_s", "s", if (cycleSums.isEmpty) Double.NaN else Stats.median(cycleSums)))
      val named = wl.named(ctx)

      val record = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "seed" -> seed.toString,
        "seconds" -> seconds.toString,
        "trace" -> trace.toString,
        "cores" -> cores.toString,
        "inputs" -> Json.str(wl.inputs),
        "cycles" -> i.toString,
        "window_s" -> Json.num(windowS),
        "calls" -> ctx.calls.size.toString,
        "failed_calls" -> failedCalls.toString,
        "checks" -> ctx.checks.toString,
        "failed_checks" -> ctx.failedChecks.toString,
        "failed_frac" -> Json.num(failed.toDouble / math.max(1, attempted)),
        "atomic_create_support" -> Json.str(atomic),
        "setup" -> Json.obj(Seq("boot_s" -> Json.num(bootS), "warmup_s" -> Json.num(warmS),
          "inputs_s" -> Json.arr(prepS.map(Json.num)))),
        "end_to_end" -> Json.obj(e2e.map { case (n, u, v) => n -> metric(v, u) }),
        "calls_by_kind" -> Json.obj(ctx.calls.groupBy(_.name).toSeq.sortBy(_._1).map { case (k, cs) =>
          val ok = cs.filter(_.ok).map(_.seconds).toSeq
          k -> Json.obj(Seq("n" -> cs.size.toString, "failed" -> (cs.size - ok.size).toString,
            "median_s" -> (if (ok.isEmpty) "null" else Json.num(Stats.median(ok))),
            "max_s" -> (if (ok.isEmpty) "null" else Json.num(ok.max))))
        }),
        "named" -> Json.obj(named.map { m =>
          m.name -> Json.obj(Seq("unit" -> Json.str(m.unit), "median" -> Json.num(m.value),
            "tail" -> Json.str(m.tailLabel), "tail_value" -> Json.num(m.tail), "n" -> m.n.toString))
        })))
      Files.createDirectories(Paths.get(out))
      println(s"""{"record":$record}""")
      write(s"$out/$workload-seed$seed-trace${if (trace) 1 else 0}.json", record)

      val metrics = probes match {
        case None => e2e.map { case (n, u, v) => (n, u, v) }
        case Some(p) =>
          val layers = PerLayer(ctx, p)
          write(s"$out/$workload-seed$seed.spans.jsonl", PerLayer.spans(ctx, p, workload))
          write(s"$out/$workload-seed$seed-ops.json", PerLayer.detail(ctx, p))
          overhead(out, workload, seed, e2e).foreach(o => println(s"""{"tracing_overhead":$o}"""))
          layers ++ e2e.map { case (n, u, v) => (s"trace.$n", u, v) }
      }
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, u, v) => n -> metric(v, u) }))))
    } finally {
      spark.stop()
      Disk.rm(work)
    }
  }

  private def metric(v: Double, unit: String): String =
    Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(StandardCharsets.UTF_8))

  /** Relative difference of this traced run's end-to-end metrics from the
    * untraced record of the same workload in `out`: the same seed's if
    * there is one, else the newest. */
  private def overhead(out: String, workload: String, seed: Long,
      traced: Seq[(String, String, Double)]): Option[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(Paths.get(out))
    val records = try s.iterator().asScala
      .filter(p => p.getFileName.toString.matches(s"\\Q$workload\\E-seed-?\\d+-trace0\\.json"))
      .toVector.sortBy(p => Files.getLastModifiedTime(p).toMillis)
    finally s.close()
    val untraced = records.find(_.getFileName.toString == s"$workload-seed$seed-trace0.json")
      .orElse(records.lastOption)
    untraced.map { p =>
      val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      Json.obj(("untraced_record" -> Json.str(p.getFileName.toString)) +: traced.flatMap { case (n, _, v) =>
        val rx = ("\"" + n + "\":\\{\"value\":([-0-9.eE]+)").r
        rx.findFirstMatchIn(txt).map(m => n -> Json.num((v - m.group(1).toDouble) / m.group(1).toDouble))
      })
    }
  }
}
