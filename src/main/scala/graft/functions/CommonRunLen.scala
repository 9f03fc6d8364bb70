package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd maximal aligned-run length between two strings — the
  * [[graft.dedup.Winnow]] seed-extension core as ONE byte-walking pass
  * per row (the [[LcsLen]]/[[UnigramSegment]] discipline).
  *
  * `common_run_len(ta, pa, tb, pb, bound, step)` counts how many
  * consecutive offsets o = 1..bound satisfy
  * `charAt(ta, pa + step·o) == charAt(tb, pb + step·o)` (1-based char
  * positions, code-point comparison), stopping at the first mismatch —
  * i.e. the length of the maximal common run extending rightward
  * (step = +1) or leftward (step = −1) from the seed anchors.
  *
  * Replaces the two-level interpreted `aggregate()` fold pair
  * (block-compare + in-block refine): each fold step re-ran
  * `substring(t, pos, len)`, which walks the string FROM THE START to
  * find the byte offset — O(pos) per probe, O(bound·pos/16) per row
  * overall, interpreted per element. This expression walks each string
  * to its anchor once and then steps code point by code point:
  * O(pos + run) per row inside WholeStageCodegen. UTF-8 is
  * self-synchronizing, so the leftward walk steps back over
  * continuation bytes directly.
  *
  * Domain notes (the caller guarantees both, from the winnowing window
  * geometry): every probed position is within both strings — an
  * out-of-range probe stops the run here, whereas the old fold compared
  * empty substrings EQUAL past the end (unreachable: bounds are derived
  * from the same rows' lengths); `bound < 1` returns 0 exactly like the
  * folds' guard branches. Any null input → null.
  */
case class CommonRunLen(
    ta: Expression, pa: Expression, tb: Expression, pb: Expression,
    bound: Expression, step: Int) extends Expression {


  override def children: Seq[Expression] = Seq(ta, pa, tb, pb, bound)
  override def nullable: Boolean = children.exists(_.nullable)
  override def dataType: DataType = LongType
  override def prettyName: String = "common_run_len"

  override def checkInputDataTypes(): TypeCheckResult =
    (ta.dataType, pa.dataType, tb.dataType, pb.dataType, bound.dataType) match {
      case _ if step != 1 && step != -1 =>
        TypeCheckResult.TypeCheckFailure(s"common_run_len: step must be +1 or -1, got $step")
      case (StringType, IntegerType, StringType, IntegerType, IntegerType | LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"common_run_len needs (string, int, string, int, int|long), got $other")
    }

  override def eval(input: InternalRow): Any = {
    val vta = ta.eval(input); if (vta == null) return null
    val vpa = pa.eval(input); if (vpa == null) return null
    val vtb = tb.eval(input); if (vtb == null) return null
    val vpb = pb.eval(input); if (vpb == null) return null
    val vb = bound.eval(input); if (vb == null) return null
    val b = vb match { case i: Int => i.toLong; case l: Long => l }
    CommonRunLen.run(
      vta.asInstanceOf[UTF8String], vpa.asInstanceOf[Int],
      vtb.asInstanceOf[UTF8String], vpb.asInstanceOf[Int], b, step)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val childCode = evs.map(_.code.toString).mkString("\n")
    val notNull = evs.map(e => s"!(${e.isNull})").mkString(" && ")
    ev.copy(code = code"""
      |$childCode
      |boolean ${ev.isNull} = true;
      |long ${ev.value} = -1L;
      |if ($notNull) {
      |  ${ev.isNull} = false;
      |  ${ev.value} = graft.functions.CommonRunLen.run(
      |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value}, ${evs(3).value},
      |    (long) ${evs(4).value}, $step);
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CommonRunLen =
    copy(ta = newChildren(0), pa = newChildren(1), tb = newChildren(2),
      pb = newChildren(3), bound = newChildren(4))
}

object CommonRunLen {

  /** Byte offset of 0-based char index `charIdx` (≤ numChars assumed). */
  private def byteOffsetOfChar(s: UTF8String, charIdx: Int): Int = {
    var off = 0
    var i = 0
    while (i < charIdx) {
      off += UTF8String.numBytesForFirstByte(s.getByte(off))
      i += 1
    }
    off
  }

  /** Code points at byte offsets (ia, ib) equal? */
  private def charEq(ta: UTF8String, ia: Int, tb: UTF8String, ib: Int): Boolean = {
    val la = UTF8String.numBytesForFirstByte(ta.getByte(ia))
    val lb = UTF8String.numBytesForFirstByte(tb.getByte(ib))
    if (la != lb) return false
    var k = 0
    while (k < la) {
      if (ta.getByte(ia + k) != tb.getByte(ib + k)) return false
      k += 1
    }
    true
  }

  /** Step byte offset back one code point (offset > 0 assumed). */
  private def stepBack(s: UTF8String, off: Int): Int = {
    var i = off - 1
    while (i > 0 && (s.getByte(i) & 0xC0) == 0x80) i -= 1
    i
  }

  def run(ta: UTF8String, pa: Int, tb: UTF8String, pb: Int, bound: Long, step: Int): Long = {
    if (bound < 1) return 0L
    var n = 0L
    if (step > 0) {
      // first compared chars are 1-based positions pa+1 / pb+1
      var ia = byteOffsetOfChar(ta, pa)
      var ib = byteOffsetOfChar(tb, pb)
      val na = ta.numBytes()
      val nb = tb.numBytes()
      while (n < bound && ia < na && ib < nb && charEq(ta, ia, tb, ib)) {
        ia += UTF8String.numBytesForFirstByte(ta.getByte(ia))
        ib += UTF8String.numBytesForFirstByte(tb.getByte(ib))
        n += 1
      }
    } else {
      // first compared chars are 1-based positions pa−1 / pb−1: start at
      // the anchor chars (0-based pa−1 / pb−1) and walk backward
      var ia = byteOffsetOfChar(ta, pa - 1)
      var ib = byteOffsetOfChar(tb, pb - 1)
      var ok = true
      while (n < bound && ok && ia > 0 && ib > 0) {
        ia = stepBack(ta, ia)
        ib = stepBack(tb, ib)
        if (charEq(ta, ia, tb, ib)) n += 1 else ok = false
      }
    }
    n
  }
}
