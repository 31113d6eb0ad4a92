package graftbench

import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/**
 * `pipeline_queries`: registered queries of the operator modules, one per
 * module, run through [[SparkEntry.queries]] over the sf0.01
 * fixtures into the noop sink (a pass over sf0.1 takes about 40 s on 4
 * cores, longer than a whole run may take).
 * Set-up runs one untimed pass (the cold pass); a cycle is one warm pass
 * over the list, in an order shuffled per pass from the seed.
 *
 * Output check: each query's row count and an order-insensitive digest must
 * be identical in every pass. Both are collected by an `observe` node in
 * the same execution (re-running a query to check it would double the
 * run); floating-point values are hashed at float precision so that
 * last-bit differences of parallel sums do not count as different output.
 */
final class PipelineWorkload(queries: Seq[String]) extends Workload {
  val name = "pipeline_queries"

  def inputs: String = s"${queries.size} registered queries over the sf0.01 fixtures"

  private var dir: String = _

  def prepare(ctx: Ctx): Unit = {
    dir = s"${ctx.fixtures}/sf0.01"
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
  }

  /** One untimed pass: the first execution of every query pays class
    * loading, JIT and code generation, which set-up reports. Its outputs
    * take part in the across-pass check. */
  def warmup(ctx: Ctx): Unit = queries.foreach(q => record(q, run(ctx, q)))

  private def record(q: String, out: (Long, BigDecimal)): Unit =
    seen(q) = seen.getOrElse(q, Set.empty) + out

  private def norm(df: DataFrame, f: StructField): Column = {
    val c = df.col(s"`${f.name}`")
    f.dataType match {
      case DoubleType | FloatType => c.cast(FloatType)
      case ArrayType(DoubleType | FloatType, _) => transform(c, _.cast(FloatType))
      case _: MapType | _: StructType => to_json(c)
      case _ => c
    }
  }

  private val seen = mutable.LinkedHashMap.empty[String, Set[(Long, BigDecimal)]]
  private var executions = 0

  private def run(ctx: Ctx, q: String): (Long, BigDecimal) = {
    executions += 1
    val obs = Observation(s"pq$executions")
    val df = SparkEntry.queries(q)(ctx.spark, dir)
    val cols = df.schema.fields.toSeq.map(norm(df, _))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("n"), sum(h.cast("decimal(38,0)")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long],
      Option(m("h")).map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0)))
  }

  def cycle(ctx: Ctx, c: Int): Unit = {
    val order = new scala.util.Random(ctx.seed * 7919L + c).shuffle(queries)
    order.foreach { q =>
      record(q, ctx.call("ops", q)(run(ctx, q)))
    }
  }

  def verify(ctx: Ctx): Unit = queries.foreach { q =>
    ctx.check(s"$q: row count and digest identical in every pass") {
      seen.get(q).exists(_.size == 1)
    }
  }

  def named(ctx: Ctx): Seq[Named] = {
    val passes = ctx.calls.filter(_.module == "ops").groupBy(_.cycle).values
      .filter(cs => cs.size == queries.size && cs.forall(_.ok)).map(_.map(_.seconds).sum).toSeq
    Named.latency("pass_s", passes).toSeq
  }
}

object PipelineWorkload {
  /** One query per operator module: relational, dedup, similarity,
    * text, multimodal, sketch. Dedup is `q_dedup_semantic`, whose
    * pass-to-pass growth must stay visible. A second query per module
    * would make a run longer than the benchmark's time allows. */
  val Queries: Seq[String] = Seq(
    "q1_agg",
    "q_dedup_semantic",
    "q_knn_classify",
    "q_bm25",
    "q_image_dedup",
    "q_sketch_quant")
}
