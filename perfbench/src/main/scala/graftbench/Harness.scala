package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed call into a module's public surface. `rows` is the input size
  * the call processed, when the workload knows it (for throughputs). */
final case class Call(id: Int, cycle: Int, module: String, op: String,
    startNs: Long, endNs: Long, ok: Boolean, rows: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def name: String = s"$module.$op"
}

/** What a workload sees: the session, its generated inputs' seed and
  * directories, and the timer. Timed regions are exactly the bodies passed
  * to [[call]]; everything else a workload does (input generation, output
  * checks) is untimed. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val fixtures: String, val probes: Option[Probes]) {
  val calls = ArrayBuffer.empty[Call]
  var cycle = 0
  var checks = 0
  var failedChecks = 0

  def call[T](module: String, op: String, rows: Long = 0L)(body: => T): T = {
    val id = calls.size
    probes.foreach(_.begin(id, cycle, s"$module.$op"))
    val t0 = System.nanoTime()
    var ok = false
    var t1 = 0L
    try {
      val r = body
      t1 = System.nanoTime()
      ok = true
      r
    } finally {
      if (!ok) t1 = System.nanoTime()
      calls += Call(id, cycle, module, op, t0, t1, ok, rows)
      probes.foreach(_.end(id, t0, t1))
    }
  }

  /** An output check: counted as attempted, and as failed when false or
    * when it throws. Never inside a timed region. */
  def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch {
      case NonFatal(e) => Log(s"check '$what' threw: $e"); false
    }
    if (!ok) {
      failedChecks += 1
      Log(s"CHECK FAILED: $what")
    }
  }

  def ok(op: String): Seq[Call] = calls.iterator.filter(c => c.ok && c.op == op).toSeq

  /** Per-layer counts a workload observes itself (outside timed regions),
    * averaged over the samples; recorded in the first cycle only. */
  val layerSamples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def layer(name: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v
}

/** Local-disk helpers for the benchmark's own bookkeeping. They use
  * java.nio, not Hadoop, so the traced run's file-system counts hold only
  * the engine's calls. */
object Disk {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }
  }

  def rm(dir: String): Unit =
    walk(dir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)

  def bytesUnder(dir: String): Long =
    walk(dir).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Entries directly under `dir` whose name matches `pattern`. */
  def children(dir: String, pattern: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator().asScala.count(_.getFileName.toString.matches(pattern)) finally s.close()
    }
  }
}

/** One benchmark workload: a closed loop with one client, cycle after
  * cycle, each cycle a fixed sequence of timed calls for a given seed. */
trait Workload {
  def name: String
  /** Input generation; run several times during set-up (the median is
    * reported), so it must be repeatable. */
  def prepare(ctx: Ctx): Unit
  /** First touch of the workload's code paths, once, during set-up. */
  def warmup(ctx: Ctx): Unit
  def cycle(ctx: Ctx, i: Int): Unit
  /** Output checks after the measured window. */
  def verify(ctx: Ctx): Unit
  /** The workload's own named metrics, computed from the calls. */
  def named(ctx: Ctx): Seq[Named]
  /** Stated input size, for the record. */
  def inputs: String
}

/** A named metric of the record: median, a tail percentile, sample count. */
final case class Named(name: String, unit: String, value: Double,
    tailLabel: String, tail: Double, n: Int)

object Named {
  /** Latency-like samples (lower is better): the tail is a high percentile. */
  def latency(name: String, xs: Seq[Double]): Option[Named] =
    if (xs.isEmpty) None
    else {
      val (label, t) = Stats.tail(xs, high = true)
      Some(Named(name, "s", Stats.median(xs), label, t, xs.size))
    }

  /** Rate-like samples (higher is better): the tail is a low percentile. */
  def rate(name: String, unit: String, xs: Seq[Double]): Option[Named] =
    if (xs.isEmpty) None
    else {
      val (label, t) = Stats.tail(xs, high = false)
      Some(Named(name, unit, Stats.median(xs), label, t, xs.size))
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** The highest percentile with at least ten samples beyond it (nearest
    * rank); with fewer than twenty samples no percentile qualifies and the
    * extreme sample is reported as "max" (or "min" for rates). */
  def tail(xs: Seq[Double], high: Boolean): (String, Double) = {
    val s = if (high) xs.sorted else xs.sorted(Ordering[Double].reverse)
    val n = s.size
    val ps = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
    ps.find(p => n - math.ceil(p / 100.0 * n) >= 10) match {
      case Some(p) =>
        val idx = math.max(0, math.ceil(p / 100.0 * n).toInt - 1)
        val label = if (p == p.floor) f"p${p.toInt}" else s"p$p"
        (if (high) label else s"$label-low", s(idx))
      case None => (if (high) "max" else "min", s.last)
    }
  }
}

object Log {
  def apply(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Minimal JSON writer for the result line and the record files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
