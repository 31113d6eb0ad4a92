package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query runner's per-pass record ([[Bench.run]]) on the shared
  * session, and the one query selector every main uses. */
class BenchSpec extends AnyFunSuite {
  private val sf = TestSpark.sf.replace("sf0.001", "sf0.01")
  private def q(names: String*) = names.map(n => n -> SparkEntry.queries(n))

  test("each query's pass records its jobs, stages and task time, and a spill names its site") {
    val spark = TestSpark.spark
    // two passes: the first lists and caches the input files (a listing
    // job a warm session does not run), the second is the warm count
    val (alone, f0) = Bench.run(spark, sf, q("q1_agg"), runs = 2, tables = false)
    val (after, f1) = Bench.run(spark, sf, q("q_dedup_clusters", "q1_agg"), runs = 1,
      tables = false)
    assert(f0.isEmpty && f1.isEmpty)
    assert(alone("q1_agg").size === 2)
    Seq(alone("q1_agg").last, after("q_dedup_clusters").head, after("q1_agg").head).foreach { p =>
      assert(p.jobs.nonEmpty, "jobs >= 1")
      assert(p.stages >= 1, "stages >= 1")
      assert(p.taskS > 0.0, "task time > 0")
      assert(p.wallS > 0.0)
    }
    assert(after("q_dedup_clusters").head.sites.exists(_._1.startsWith("graft.spill")),
      after("q_dedup_clusters").head.sites.map(_._1).mkString("; "))
    // the tag keeps the spilling query's jobs out of the next query's record
    assert(after("q1_agg").head.jobs.size === alone("q1_agg").last.jobs.size,
      after("q1_agg").head.sites.mkString("; "))
    assert(after("q1_agg").head.jobs.forall(!_.desc.startsWith("graft.spill")))
  }

  test("the query selector rejects an empty filter and names unknown queries") {
    assert(SparkEntry.selected("KNOB", None).isEmpty)
    assert(SparkEntry.selected("KNOB", Some(" q1_agg , q_filter ")) ===
      Some(Set("q1_agg", "q_filter")))
    val empty = intercept[IllegalArgumentException](SparkEntry.selected("KNOB", Some(" , ")))
    assert(empty.getMessage.contains("KNOB is set but empty"))
    val unknown = intercept[IllegalArgumentException](
      SparkEntry.selected("KNOB", Some("q1_agg,q_nope,q_typo")))
    assert(unknown.getMessage.contains("q_nope, q_typo"), unknown.getMessage)
    assert(!unknown.getMessage.contains("q1_agg"))
  }
}
