package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: x10's Gopher-rule features of a text in
  * ONE pass over its UTF-8 bytes —
  * `struct(n_toks, mean_tok_len, alpha_frac, n_req_stop, pass)`.
  *
  * Value-identical to the builtin composition over
  * `toks = ws_tokens(text)` (the [[WsTokens]] split of the lowered
  * text) that the DuckDB oracle pins:
  *
  * {{{
  * n_toks       = size(toks)
  * mean_tok_len = round(length(concat_ws('', toks)) / n_toks, 4)
  * alpha_frac   = round(<tokens holding a byte in [a-z]> / n_toks, 4)
  * n_req_stop   = <how many of the, a, of, to, and occur in toks>
  * pass         = CAST(n_toks BETWEEN 30 AND 100000 AND
  *                     mean_tok_len BETWEEN 3 AND 10 AND
  *                     alpha_frac >= 0.8 AND n_req_stop >= 2 AS INT)
  * }}}
  *
  * The composition evaluated ws_tokens, two `concat_ws` joins and a
  * regex per feature, and Catalyst inlined each feature into the
  * filters and projections that read it, so a gated plan ran the
  * tokenizer up to 16 times per row. Here nothing per token is
  * allocated: ASCII text is lowercased inline; other text goes through
  * the same `CollationSupport.Lower.exec(_, 0, useICU)` call
  * [[WsTokens]] makes, then the same six whitespace bytes split it.
  * Characters are counted the way `length` steps over the joined
  * tokens (`UTF8String.numBytesForFirstByte`). `pass` is a field of
  * the struct so that a filter on it reads the kernel once.
  *
  * A text with no tokens (empty or whitespace only) has NULL
  * `mean_tok_len` and `alpha_frac` and `pass` 0, as the oracle has it;
  * the composition divided by zero there (an error under ANSI mode).
  */
case class GopherStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gopher_stats needs string, got $other")
    }
  override def dataType: DataType = GopherStats.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "gopher_stats"

  // resolved once on the driver, as in WsTokens
  private lazy val useICU: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.getConf(
      org.apache.spark.sql.internal.SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(input: Any): Any =
    GopherStats.compute(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GopherStats.compute($c, $useICU);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherStats {

  val schema: StructType = StructType(Seq(
    StructField("n_toks", IntegerType, nullable = false),
    StructField("mean_tok_len", DoubleType, nullable = true),
    StructField("alpha_frac", DoubleType, nullable = true),
    StructField("n_req_stop", IntegerType, nullable = false),
    StructField("pass", IntegerType, nullable = false)))

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' ||
      b == '\r'

  /** `round(x, 4)` as Spark evaluates it on a double (HALF_UP through
    * `BigDecimal.valueOf`).
    */
  private def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Bit of the required stopword a lowered token of `len` bytes from
    * `start` spells (the=1, a=2, of=4, to=8, and=16), else 0.
    */
  private def stopBit(s: UTF8String, start: Int, len: Int): Int = {
    def at(k: Int): Int = lower(s.getByte(start + k))
    len match {
      case 1 => if (at(0) == 'a') 2 else 0
      case 2 =>
        if (at(0) == 'o' && at(1) == 'f') 4
        else if (at(0) == 't' && at(1) == 'o') 8
        else 0
      case 3 =>
        if (at(0) == 't' && at(1) == 'h' && at(2) == 'e') 1
        else if (at(0) == 'a' && at(1) == 'n' && at(2) == 'd') 16
        else 0
      case _ => 0
    }
  }

  private def lower(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b

  /** Per-row kernel, shared by interpreted eval and codegen. */
  def compute(input: UTF8String, useICU: Boolean): InternalRow = {
    // ASCII lowers byte by byte below; the UTF8_BINARY collation id is
    // 0, and exec(_, 0, useICU) is WsTokens' call. A lowered string
    // holds no A-Z, so the inline lowering is a no-op on it.
    val s =
      if (input.isFullAscii) input
      else org.apache.spark.sql.catalyst.util.CollationSupport.Lower
        .exec(input, 0, useICU)
    val n = s.numBytes
    var nToks = 0
    var nChars = 0L
    var nAlpha = 0
    var stops = 0
    // continuation bytes still owed by the last counted character:
    // `length` steps over the tokens joined with no separator
    var owed = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.getByte(i))) i += 1
      val start = i
      var alpha = false
      while (i < n && !isWs(s.getByte(i))) {
        val b = s.getByte(i)
        if (owed > 0) owed -= 1
        else {
          nChars += 1
          owed = UTF8String.numBytesForFirstByte(b) - 1
        }
        val l = lower(b)
        if (l >= 'a' && l <= 'z') alpha = true
        i += 1
      }
      if (i > start) {
        nToks += 1
        if (alpha) nAlpha += 1
        stops |= stopBit(s, start, i - start)
      }
    }
    val nReqStop = Integer.bitCount(stops)
    if (nToks == 0) new GenericInternalRow(Array[Any](0, null, null, nReqStop, 0))
    else {
      val mean = round4(nChars.toDouble / nToks)
      val alphaFrac = round4(nAlpha.toDouble / nToks)
      val pass = nToks >= 30 && nToks <= 100000 && mean >= 3 &&
        mean <= 10 && alphaFrac >= 0.8 && nReqStop >= 2
      new GenericInternalRow(
        Array[Any](nToks, mean, alphaFrac, nReqStop, if (pass) 1 else 0))
    }
  }

  def apply(text: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(GopherStats(
      org.apache.spark.sql.GraftColumnBridge.expression(text)))
}
