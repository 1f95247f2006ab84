package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the P1 permissive line parse
  * (`etl/transform.py:61-95`) in one pass over the line's bytes —
  * `struct<game_win bigint, type_code string>`. Plans that need only
  * the value use [[PolLineWin]], which builds neither the struct nor
  * the type code.
  *
  * Tokenization is the reference's `line.split()`: runs of ASCII
  * whitespace separate tokens, leading/trailing whitespace produces no
  * empty tokens. (The previous composed form — `split(trim(line),
  * '\\s+')` — left an empty first token on lines starting with a tab,
  * dropping rows Python keeps; this kernel matches Python. Non-ASCII
  * unicode whitespace is not a separator in either the Java regex or
  * here — a deliberate, documented deviation from Python's str.split.)
  *
  * Numeric parsing is a strict sign+digits scan with Long.parseLong's
  * overflow handling — the accept set of ANSI `try_cast(x AS LONG)` on
  * a whitespace-free token ('5.0' and '1_0' rejected, '+5'/'-4'/'007'
  * accepted, out-of-range null), matching both the pinned composed
  * formulation and Python int() on the reference corpus. (Difference
  * pocket: the composed form's ANSI `+` THROWS when win+extra
  * overflows Long; the kernel wraps. No real pool line is within 10
  * orders of magnitude of that.) Scanning stops after the third token:
  * extra tokens are ignored by the reference, so the kernel never
  * materializes them.
  */
case class PolLineParse(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    PolLineParse.needString(child, prettyName)

  override def dataType: DataType = StructType(Seq(
    StructField("game_win", LongType, nullable = true),
    StructField("type_code", StringType, nullable = true)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "pol_line_parse"

  override def nullSafeEval(input: Any): Any =
    PolLineParse.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PolLineParse.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native Catalyst expression: the `game_win` of [[PolLineParse]] alone,
  * as a nullable bigint. It reads the line's bytes where they lie and
  * allocates nothing per line: the generated code keeps one
  * [[PolLineScan]] per partition and reads its result fields.
  */
case class PolLineWin(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    PolLineParse.needString(child, prettyName)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pol_line_win"

  override def nullSafeEval(input: Any): Any = {
    val s = new PolLineScan
    if (s(input.asInstanceOf[UTF8String])) s.win else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scan = ctx.addMutableState(classOf[PolLineScan].getName, "polLineScan",
      v => s"$v = new ${classOf[PolLineScan].getName}();")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.isNull} = !$scan.apply($c);
         |if (!${ev.isNull}) ${ev.value} = $scan.win();""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The P1 tokenizer over a line's bytes, read in place. One instance is
  * reused line after line: [[apply]] sets `win` and the type code's byte
  * range, and says whether the first token parsed.
  */
final class PolLineScan {
  var win: Long = 0L
  /** Byte range of the second token; empty when the line has none. */
  var typeStart: Int = 0
  var typeEnd: Int = 0

  private var base: AnyRef = _
  private var off: Long = 0L
  private var n: Int = 0
  private var parsed: Long = 0L

  private def at(i: Int): Byte = Platform.getByte(base, off + i)

  private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 9 && b <= 13) // \t \n \x0B \f \r — the \s set

  private def skipWs(from: Int): Int = {
    var i = from
    while (i < n && isWs(at(i))) i += 1
    i
  }

  private def skipToken(from: Int): Int = {
    var i = from
    while (i < n && !isWs(at(i))) i += 1
    i
  }

  /** Strict long parse of bytes [s, e) into `parsed`: optional sign +
    * decimal digits, Long.parseLong's negative-accumulation overflow
    * handling. False on reject — the ANSI try_cast accept set for a
    * whitespace-free token.
    */
  private def parseLong(s: Int, e: Int): Boolean = {
    if (s >= e) return false
    var i = s
    var negative = false
    val first = at(i)
    if (first == '-' || first == '+') { negative = first == '-'; i += 1 }
    if (i >= e) return false
    var acc = 0L
    val limit = if (negative) Long.MinValue else -Long.MaxValue
    val mulMin = limit / 10
    while (i < e) {
      val b = at(i)
      if (b < '0' || b > '9') return false
      if (acc < mulMin) return false // overflow
      acc *= 10
      val d = b - '0'
      if (acc < limit + d) return false // overflow
      acc -= d
      i += 1
    }
    parsed = if (negative) acc else -acc
    true
  }

  /** Scan `u`'s first three tokens; true when the first is an integer,
    * `win` then holding it plus a parseable third token.
    */
  def apply(u: UTF8String): Boolean = {
    base = u.getBaseObject
    off = u.getBaseOffset
    n = u.numBytes
    val s0 = skipWs(0)
    val e0 = skipToken(s0)
    val ok = parseLong(s0, e0)
    if (ok) win = parsed
    typeStart = skipWs(e0)
    typeEnd = skipToken(typeStart)
    if (ok) {
      val s2 = skipWs(typeEnd)
      if (parseLong(s2, skipToken(s2))) win += parsed
    }
    base = null
    ok
  }
}

object PolLineParse {

  private[functions] def needString(child: Expression, name: String) =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$name needs string, got $other")
    }

  /** Per-row kernel (shared by interpreted eval and codegen). */
  def compute(u: UTF8String): InternalRow = {
    val s = new PolLineScan
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
    if (s(u)) row.setLong(0, s.win) else row.setNullAt(0)
    if (s.typeEnd > s.typeStart) {
      val len = s.typeEnd - s.typeStart
      val bytes = new Array[Byte](len)
      Platform.copyMemory(u.getBaseObject, u.getBaseOffset + s.typeStart,
        bytes, Platform.BYTE_ARRAY_OFFSET, len)
      row.update(1, UTF8String.fromBytes(bytes))
    } else row.setNullAt(1)
    row
  }

  def apply(line: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(PolLineParse(
      org.apache.spark.sql.GraftColumnBridge.expression(line)))

  /** [[PolLineWin]] over a line column. */
  def win(line: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(PolLineWin(
      org.apache.spark.sql.GraftColumnBridge.expression(line)))
}
