package graft

import org.apache.spark.sql.SparkSession

/**
 * Engine-recommended session configuration (round 22, hoisted from the
 * Bench and Verify session builders per the r21 verdict: a real
 * optimization must be an ENGINE property an embedding application
 * inherits, not a harness-resident conf). Every value here is
 * independent of core count and data scale — nothing in this map tunes
 * for local[32] or sf0.1:
 *
 *  - `spark.sql.codegen.cache.maxEntries = 10000`: Spark's default
 *    100-entry generated-class cache thrashes on any many-query session
 *    (measured round 21: ~12.6 s of janino recompilation for 8 queries'
 *    executions because a 180-query battery evicts everything between
 *    passes). A long-running production driver — Thrift server,
 *    streaming, a REPL — has the same repeated-plan profile; identical
 *    plans generate identical source, so the cache hit is exact and the
 *    cost is tens of MB of class metadata at worst.
 *  - `spark.sql.maxPlanStringLength = 1 MiB`: plan strings are
 *    diagnostics; AQE rebuilds the string on every replan, so an
 *    unbounded one turns a wide plan into driver-heap trouble.
 *  - `spark.sql.legacy.parquet.nanosAsLong = true`: inert for µs
 *    fixtures; keeps ns-encoded parquet timestamps loadable (the events
 *    fixture changed encoding across regenerations — round 10).
 *
 * Session-builder use: `SessionDefaults(builder)` sets each key with
 * `builder.config`, and the LAST `config` call for a key wins. Every
 * call site wraps a builder that already carries its own confs, so
 * these defaults are folded in AFTER them and win for any key both
 * set. To override one of these keys, call `config` for it on the
 * builder `SessionDefaults` returns, not on the one it wraps.
 *
 * Every graft main and profiling harness builds its session through
 * [[session]], the one recipe that adds these confs to the rest of a
 * graft session.
 */
object SessionDefaults {

  val confs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.maxPlanStringLength" -> "1048576",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    confs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The session of every graft main and harness: `master`, its shuffle
    * partitions, the graft extensions, no UI, UTC, the [[confs]] above,
    * and the driver's log level. */
  private[graft] def session(master: String, shufflePartitions: Int,
      logLevel: String = "WARN"): SparkSession = {
    val spark = apply(SparkSession.builder().master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
