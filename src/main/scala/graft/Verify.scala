package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionDefaults.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for local rehearsal of a query
    // subset (same contract as Bench: unknown names fail fast); the
    // driver sets no filter and dumps everything
    val only = SparkEntry.selected("SPARK_GRAFT_VERIFY_QUERIES",
      sys.env.get("SPARK_GRAFT_VERIFY_QUERIES"))
    // SPARK_GRAFT_SAMPLED=1 (round 13): the large-SF scale-parity mode —
    // the seven vector-quadratic queries swap to their deterministic
    // id-slice gate (SampledQueries), whose DuckDB side is (n/101)·n
    // instead of n². The driver's sf0.01 gate never sets this.
    val sampled = sys.env.get("SPARK_GRAFT_SAMPLED").contains("1")
    val allQueries =
      if (sampled) SparkEntry.queries ++ SampledQueries.queries
      else SparkEntry.queries
    val allOracle =
      if (sampled) SparkEntry.oracleSql ++ SampledQueries.oracleSql
      else SparkEntry.oracleSql
    val selected = allQueries.filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = allOracle
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
