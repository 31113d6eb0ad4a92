package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate, TernaryExpression}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deletion-vector application as a native Catalyst predicate:
 * `graft_dv_alive(file_path, row_index, index)` is false exactly for the
 * rows the OR-folded deletion vectors mark dead, so a snapshot read
 * applies its DVs as one codegen'd filter inside the scan's stage — no
 * sidecar scan, no exchange, no join.
 *
 * `index` is a FOLDABLE binary literal in the [[DvAlive.encode]] format:
 * per data file, its sorted 64-bit word indexes (`row_index / 64`) and
 * their OR-masks. It is decoded once per expression instance into a
 * file → bitmap hash map. Rows arrive grouped by file, so the per-row
 * cost is one path comparison against the last file seen, one hash probe
 * per file change, and a binary search over that file's words — never a
 * scan of a per-file map (the `element_at` shape SCALE.md's round-16
 * txtable row measured degrading 0.8 s → 31.9 s with kills per file).
 * The plan string prints a summary of the index, not the bitmap.
 */
case class DvAlive(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with Predicate {

  override def prettyName: String = "graft_dv_alive"
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, LongType, BinaryType) =>
        if (third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a foldable deletion-vector index (a literal)")
      case (f, r, i) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, bigint, binary), got ($f, $r, $i)")
    }

  @transient private lazy val bytes: Array[Byte] =
    third.eval(null).asInstanceOf[Array[Byte]]
  @transient private lazy val bitmaps: java.util.HashMap[UTF8String, DvAlive.Bitmap] =
    DvAlive.decode(bytes)

  // the last file probed and its bitmap (null: the file has no vectors)
  @transient private var lastFile: UTF8String = _
  @transient private var lastBitmap: DvAlive.Bitmap = _

  def alive(file: UTF8String, row: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(file)) {
      lastFile = file.clone()
      lastBitmap = bitmaps.get(lastFile)
    }
    lastBitmap == null || lastBitmap.alive(row)
  }

  override def eval(input: InternalRow): Any = {
    val f = first.eval(input)
    val r = second.eval(input)
    f == null || r == null || alive(f.asInstanceOf[UTF8String], r.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvAlive", this, classOf[DvAlive].getName)
    val f = first.genCode(ctx)
    val r = second.genCode(ctx)
    ev.copy(code = code"""
      ${f.code}
      ${r.code}
      boolean ${ev.value} = ${f.isNull} || ${r.isNull} ||
        $ref.alive(${f.value}, ${r.value});""", isNull = FalseLiteral)
  }

  private def summary: String = {
    val files = if (bytes.length >= 4) java.nio.ByteBuffer.wrap(bytes).getInt(0) else 0
    s"<dv index: $files files, ${bytes.length} bytes>"
  }
  override def toString: String = s"$prettyName($first, $second, $summary)"
  override def sql: String = s"$prettyName(${first.sql}, ${second.sql}, '$summary')"

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object DvAlive {

  /** One file's dead rows: sorted word indexes and their OR-masks. */
  private[graft] final class Bitmap(val words: Array[Long], val masks: Array[Long]) {
    def alive(row: Long): Boolean = {
      val i = java.util.Arrays.binarySearch(words, row >>> 6)
      i < 0 || ((masks(i) >>> (row & 63)) & 1L) == 0L
    }
  }

  /** The literal format: file count, then per file its UTF-8 path, word
    * count, words (ascending) and masks. */
  private[graft] def encode(files: Iterable[(String, Bitmap)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(files.size)
    files.foreach { case (path, b) =>
      val p = path.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(p.length)
      out.write(p)
      out.writeInt(b.words.length)
      b.words.foreach(out.writeLong)
      b.masks.foreach(out.writeLong)
    }
    out.flush()
    bos.toByteArray
  }

  private[graft] def decode(bytes: Array[Byte]): java.util.HashMap[UTF8String, Bitmap] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt()
    val m = new java.util.HashMap[UTF8String, Bitmap](n * 2)
    (0 until n).foreach { _ =>
      val p = new Array[Byte](in.getInt())
      in.get(p)
      val w = in.getInt()
      val words = Array.fill(w)(in.getLong())
      val masks = Array.fill(w)(in.getLong())
      m.put(UTF8String.fromBytes(p), new Bitmap(words, masks))
    }
    m
  }
}
