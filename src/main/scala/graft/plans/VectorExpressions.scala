package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType}

private[plans] trait FloatArrayPair { self: BinaryExpression =>
  // AbstractDataType/ExpectsInputTypes are private[sql] in Spark 4 — check by hand
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float> arguments, got $l and $r")
    }
}

/**
 * Native Catalyst expressions for the embedding hot path (SURVEY.md §2.11,
 * preference order (b): custom `Expression` over any UDF).
 *
 * The `functions._` higher-order formulation (`aggregate(zip_with(...))`)
 * is semantically fine but runs interpreted per element, with lambda-variable
 * boxing. These expressions compile to a tight primitive loop inside
 * whole-stage codegen — one pass over the two float arrays, no allocation —
 * which is what a 100 TB re-rank stage needs.
 */

/** dot(a, b) over ArrayType(FloatType), accumulated in double. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayPair {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * `bits`-bit random-hyperplane sign sketch of an `array<float>` vector,
 * packed little-endian into ⌈bits/64⌉ longs. Bit j is set iff the
 * projection onto pseudo-random hyperplane j is > 0; hyperplane components
 * are Rademacher ±1 signs derived from a splitmix64 mix of (seed, j, dim),
 * so the sketch needs no stored projection matrix — any executor
 * regenerates the same hyperplanes from (seed, bits) alone, which is what
 * lets this run as a stateless one-pass codegen'd map at 100 TB.
 *
 * E[popcount(xor(sig_a, sig_b))] = bits·θ/π for angle θ between a and b
 * (Goemans–Williamson), so cos(π·hamming/bits) estimates cosine similarity
 * with binomial error √(p(1−p)/bits) — at 256 bits, σ_cos ≈ 0.09. That is
 * the basis of the sketch-and-verify similarity join in
 * [[graft.operators.Similarity.annPairs]].
 */
case class FloatVecSimSig(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {

  require(bits > 0 && bits % 64 == 0, s"bits must be a positive multiple of 64, got $bits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simsig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    val words = new Array[Long](bits / 64)
    var j = 0
    while (j < bits) {
      var s = 0.0
      var d = 0
      while (d < n) {
        // splitmix64 finalizer over (seed, j, d) — keep in sync with doGenCode
        var z = seed + j * 0x9E3779B97F4A7C15L + d * 0xBF58476D1CE4E5B9L
        z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
        z ^= z >>> 27; z *= 0x94D049BB133111EBL
        z ^= z >>> 31
        val v = x.getFloat(d).toDouble
        s += (if ((z & 1L) == 0L) v else -v)
        d += 1
      }
      if (s > 0) words(j >>> 6) |= (1L << (j & 63))
      j += 1
    }
    new GenericArrayData(words)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val w = ctx.freshName("w")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      val s = ctx.freshName("s"); val z = ctx.freshName("z"); val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |long[] $w = new long[${bits / 64}];
         |for (int $j = 0; $j < $bits; $j++) {
         |  double $s = 0.0;
         |  for (int $d = 0; $d < $n; $d++) {
         |    long $z = ${seed}L + $j * 0x9E3779B97F4A7C15L + $d * 0xBF58476D1CE4E5B9L;
         |    $z ^= $z >>> 30; $z *= 0xBF58476D1CE4E5B9L;
         |    $z ^= $z >>> 27; $z *= 0x94D049BB133111EBL;
         |    $z ^= $z >>> 31;
         |    double $v = (double) $a.getFloat($d);
         |    $s += (($z & 1L) == 0L) ? $v : -$v;
         |  }
         |  if ($s > 0) $w[$j >>> 6] |= (1L << ($j & 63));
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($w);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** cosine(a, b) over ArrayType(FloatType): dot / (‖a‖·‖b‖) in ONE pass;
  * NULL when either norm is zero. */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression with FloatArrayPair {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      d += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    val prod = math.sqrt(na) * math.sqrt(nb)
    if (prod == 0.0) null else d / prod
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv"); val p = ctx.freshName("p")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |double $p = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |if ($p == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $d / $p; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * Nearest-centroid assignment for the Lloyd quantizers
 * ([[graft.operators.Similarity]]): `graft_nearest_cells(vec, table, n)`
 * is the ids of the `n` cells of `table` nearest to `vec`, nearest first.
 * A cell scores ‖c‖² − 2·v·c, with c the float-cast centroid and the dot
 * accumulated in double over the shorter of the two arrays (the
 * [[FloatVecDot]] loop); ties go to the lower cell id. A table with fewer
 * than `n` cells yields all of them.
 *
 * `table` is a FOLDABLE binary literal in the [[NearestCells.encode]]
 * format, decoded once per expression instance; `n` is an integer
 * literal. Each row then costs one dot per cell inside whole-stage
 * codegen — no (vector × cell) rows, no join, no aggregate. The plan
 * string prints a summary of the table, not its floats.
 */
case class NearestCells(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_cells"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), BinaryType, IntegerType) =>
        if (second.foldable && third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a literal centroid table and a literal n")
      case (v, t, n) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, binary, int), got ($v, $t, $n)")
    }

  @transient private lazy val bytes: Array[Byte] =
    second.eval(null).asInstanceOf[Array[Byte]]
  @transient private lazy val table: NearestCells.Table = NearestCells.decode(bytes)
  @transient private lazy val n: Int = third.eval(null).asInstanceOf[Int]

  def nearest(v: ArrayData): ArrayData = {
    val t = table
    val best = new Array[Int](math.min(n, t.ids.length))
    val bestD = new Array[Double](best.length)
    var filled = 0
    var c = 0
    while (c < t.ids.length) {
      val cv = t.vecs(c)
      val m = math.min(v.numElements(), cv.length)
      var s = 0.0; var i = 0
      while (i < m) { s += v.getFloat(i).toDouble * cv(i).toDouble; i += 1 }
      val d = t.norms(c) - 2.0 * s
      // cells arrive in ascending id order: a tie keeps the earlier cell
      if (filled < best.length || (filled > 0 && d < bestD(filled - 1))) {
        var j = math.min(filled, best.length - 1)
        while (j > 0 && d < bestD(j - 1)) {
          best(j) = best(j - 1); bestD(j) = bestD(j - 1); j -= 1
        }
        best(j) = t.ids(c); bestD(j) = d
        if (filled < best.length) filled += 1
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(best)
  }

  override protected def nullSafeEval(v: Any, t: Any, k: Any): Any =
    nearest(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    val v = first.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      boolean ${ev.isNull} = ${v.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) { ${ev.value} = $ref.nearest(${v.value}); }""")
  }

  private def summary: String = {
    val cells = if (bytes.length >= 4) java.nio.ByteBuffer.wrap(bytes).getInt(0) else 0
    s"<centroids: $cells cells, ${bytes.length} bytes>"
  }
  override def toString: String = s"$prettyName($first, $summary, $third)"
  override def sql: String = s"$prettyName(${first.sql}, '$summary', ${third.sql})"

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object NearestCells {

  /** A decoded centroid table: cell ids ascending, their float-cast
    * centroids and the ‖c‖² of the double centroids. */
  private[graft] final class Table(val ids: Array[Int], val vecs: Array[Array[Float]],
      val norms: Array[Double])

  /** The literal format: cell count, then per cell (ascending id) its id,
    * ‖c‖² (summed in double, dimension order), dimension and float-cast
    * coordinates. */
  private[graft] def encode(cells: Seq[(Int, Array[Double])]): Array[Byte] = {
    val sorted = cells.sortBy(_._1)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(sorted.size)
    sorted.foreach { case (id, c) =>
      out.writeInt(id)
      out.writeDouble(squaredNorm(c))
      out.writeInt(c.length)
      c.foreach(x => out.writeFloat(x.toFloat))
    }
    out.flush()
    bos.toByteArray
  }

  /** ‖c‖², summed in double in dimension order. */
  private[graft] def squaredNorm(c: Array[Double]): Double =
    c.foldLeft(0.0)((acc, x) => acc + x * x)

  private[graft] def decode(bytes: Array[Byte]): Table = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val ids = new Array[Int](n)
    val norms = new Array[Double](n)
    val vecs = new Array[Array[Float]](n)
    (0 until n).foreach { c =>
      ids(c) = in.getInt()
      norms(c) = in.getDouble()
      vecs(c) = Array.fill(in.getInt())(in.getFloat())
    }
    new Table(ids, vecs, norms)
  }
}
