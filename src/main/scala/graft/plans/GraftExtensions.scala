package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/**
 * Registration for graft's native Catalyst expressions — both as a
 * `SparkSessionExtensions` injector (for
 * `spark.sql.extensions=graft.plans.GraftExtensions`) and as an
 * idempotent per-session registration for library use. The injector
 * additionally installs the [[graft.sources.txtable.TxTableRewriteRule]]
 * resolution rule (round 19) — the analysis-time rewrite that turns a
 * `format("txtable")` / [[graft.sources.txtable.GraftCatalog]] relation
 * into the snapshot plan `TxTable.readAt` builds.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectResolutionRule(session =>
      graft.sources.txtable.TxTableRewriteRule(session))
  }
}

object GraftExtensions {

  private val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      new ExpressionInfo(classOf[FloatVecDot].getName, "graft_dot"),
      (es: Seq[Expression]) => FloatVecDot(es(0), es(1))),
    ("graft_cosine",
      new ExpressionInfo(classOf[FloatVecCosine].getName, "graft_cosine"),
      (es: Seq[Expression]) => FloatVecCosine(es(0), es(1))),
    ("graft_nearest_cells",
      new ExpressionInfo(classOf[NearestCells].getName, "graft_nearest_cells"),
      (es: Seq[Expression]) => NearestCells(es(0), es(1), es(2))),
    ("graft_simsig",
      new ExpressionInfo(classOf[FloatVecSimSig].getName, "graft_simsig"),
      (es: Seq[Expression]) => {
        // bits/seed parameterize generated code — they must be literals
        def lit(e: Expression, what: String): Long = e match {
          case Literal(v: Int, _) => v.toLong
          case Literal(v: Long, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_simsig $what must be an integer literal, got $other")
        }
        FloatVecSimSig(es(0), lit(es(1), "bits").toInt, lit(es(2), "seed"))
      }),
    ("graft_cms_merge",
      new ExpressionInfo(classOf[CmsMergeAgg].getName, "graft_cms_merge"),
      (es: Seq[Expression]) => CmsMergeAgg(es(0))),
    ("graft_cms_estimate",
      new ExpressionInfo(classOf[CmsEstimate].getName, "graft_cms_estimate"),
      (es: Seq[Expression]) => CmsEstimate(es(0), es(1))),
    ("graft_quant_agg",
      new ExpressionInfo(classOf[QuantSketchAgg].getName, "graft_quant_agg"),
      (es: Seq[Expression]) => {
        val eps = es(1) match {
          case Literal(v: Double, _) => v
          case Literal(v: java.math.BigDecimal, _) => v.doubleValue()
          case other => throw new IllegalArgumentException(
            s"graft_quant_agg eps must be a double literal, got $other")
        }
        QuantSketchAgg(es(0), eps)
      }),
    ("graft_quant_merge",
      new ExpressionInfo(classOf[QuantMergeAgg].getName, "graft_quant_merge"),
      (es: Seq[Expression]) => QuantMergeAgg(es(0))),
    ("graft_quant_q",
      new ExpressionInfo(classOf[QuantQuery].getName, "graft_quant_q"),
      (es: Seq[Expression]) => QuantQuery(es(0), es(1))),
    ("graft_nfc",
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (es: Seq[Expression]) => NfcNormalize(es(0))),
    ("graft_bpe_encode",
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
      (es: Seq[Expression]) => BpeEncode(es(0), es(1))),
    ("graft_dv_alive",
      new ExpressionInfo(classOf[DvAlive].getName, "graft_dv_alive"),
      (es: Seq[Expression]) => DvAlive(es(0), es(1), es(2))))

  /** Idempotent: make graft_* functions available in `spark`'s registry. */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Register once per session: each re-registration logs a replacement
    * warning per function, and the hot callers build many columns. */
  private def ensure(spark: SparkSession, name: String): Unit =
    if (!spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)))
      register(spark)

  /** Column API over the registered functions. */
  def graftDot(spark: SparkSession, a: Column, b: Column): Column = {
    ensure(spark, "graft_dot"); call_function("graft_dot", a, b)
  }

  def graftCosine(spark: SparkSession, a: Column, b: Column): Column = {
    ensure(spark, "graft_cosine"); call_function("graft_cosine", a, b)
  }

  /** The `n` nearest cells of a centroid table bound as a literal
    * ([[NearestCells]]); `table` is [[NearestCells.encode]]'s output. */
  private[graft] def graftNearestCells(spark: SparkSession, vec: Column,
      table: Array[Byte], n: Int): Column = {
    ensure(spark, "graft_nearest_cells")
    call_function("graft_nearest_cells", vec,
      org.apache.spark.sql.functions.lit(table), org.apache.spark.sql.functions.lit(n))
  }

  def graftSimSig(spark: SparkSession, vec: Column, bits: Int, seed: Long = 42L): Column = {
    register(spark)
    call_function("graft_simsig", vec,
      org.apache.spark.sql.functions.lit(bits), org.apache.spark.sql.functions.lit(seed))
  }

  def graftNfc(spark: SparkSession, s: Column): Column = {
    register(spark); call_function("graft_nfc", s)
  }

  /** Native BPE encode with a learned merge table bound as a typed
    * literal — the tokenizer-scale path ([[BpeEncode]]); output shape
    * matches `Bpe.encode` exactly. */
  def graftBpeEncode(spark: SparkSession, text: Column,
      merges: Seq[(Int, String, String)]): Column = {
    register(spark)
    call_function("graft_bpe_encode", text,
      org.apache.spark.sql.functions.typedlit(merges))
  }

  /** Deletion-vector application inside the scan ([[DvAlive]]): false
    * for the rows the encoded index marks dead. */
  private[graft] def graftDvAlive(spark: SparkSession, file: Column, row: Column,
      index: Array[Byte]): Column = {
    // every TxTable read with deletion vectors lands here
    ensure(spark, "graft_dv_alive")
    call_function("graft_dv_alive", file, row, org.apache.spark.sql.functions.lit(index))
  }
}
