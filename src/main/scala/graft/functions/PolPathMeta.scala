package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the S4 file metadata of a `.pol` path
  * (`etl/extract.py:108-131`) —
  * `struct<relative_path, file_name, folder_path, parent_folder>`.
  *
  * The path is a line scan's `_metadata.file_path` (a URI,
  * percent-encoded: `file:/data/group%201/…`) or a listed path (already
  * decoded). A URI holding a `%` is decoded, keeping `+` literal (form
  * decoding would turn it into a space), so both give the same
  * `relative_path` for a file. Then a leading `file:` and its slashes
  * become one `/`, the base dir and its `/` are stripped when the path
  * starts with them, and the folder is everything before the last `/`
  * ("" for a file at the root), its parent the folder's last segment.
  * A null path gives a null relative path and file name and empty
  * folders.
  *
  * Every value depends on the file alone, and a scan delivers a file's
  * lines in a run, so the expression keeps its last result
  * ([[PolPathMemo]], one per partition in generated code) and derives
  * the strings again only when the path's bytes change.
  */
case class PolPathMeta(child: Expression, baseDir: String) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    PolLineParse.needString(child, prettyName)

  override def dataType: DataType = PolPathMeta.Schema
  override def nullable: Boolean = false
  override def prettyName: String = "pol_path_meta"

  @transient private lazy val memo = new PolPathMemo(baseDir)

  override def eval(input: InternalRow): Any =
    memo(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val memoClass = classOf[PolPathMemo].getName
    val base = ctx.addReferenceObj("baseDir", baseDir)
    val m = ctx.addMutableState(memoClass, "polPathMemo",
      v => s"$v = new $memoClass($base);")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = $m.apply(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The last path [[PolPathMeta]] saw and its metadata row. The pair is
  * one immutable entry, so a memo shared by threads can only ever miss,
  * never pair one path with another's row.
  */
final class PolPathMemo(baseDir: String) {
  private final class Entry(val path: UTF8String, val row: InternalRow)
  private var last: Entry = _

  def apply(path: UTF8String): InternalRow = {
    if (path == null) return PolPathMeta.derive(null, baseDir)
    val e = last
    if (e != null && ((e.path eq path) || e.path == path)) e.row
    else {
      // the path may live in a buffer the scan reuses: keep a copy
      val row = PolPathMeta.derive(path.toString, baseDir)
      last = new Entry(path.clone(), row)
      row
    }
  }
}

object PolPathMeta {

  val Schema: StructType = StructType(
    Seq("relative_path", "file_name", "folder_path", "parent_folder")
      .map(StructField(_, StringType, nullable = true)))

  private val Scheme = java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:")

  /** The metadata row of one path (see [[PolPathMeta]]). */
  def derive(abs: String, baseDir: String): InternalRow = {
    if (abs == null)
      return InternalRow(null, null, UTF8String.EMPTY_UTF8, UTF8String.EMPTY_UTF8)
    val path =
      if (abs.indexOf('%') >= 0 && Scheme.matcher(abs).lookingAt())
        java.net.URLDecoder.decode(abs.replace("+", "%2B"), StandardCharsets.UTF_8)
      else abs
    val local =
      if (path.startsWith("file:")) "/" + path.substring(5).dropWhile(_ == '/')
      else path
    val rel =
      if (local.startsWith(baseDir + "/")) local.substring(baseDir.length + 1)
      else local
    val cut = rel.lastIndexOf('/')
    val folder = if (cut < 0) "" else rel.substring(0, cut)
    InternalRow(UTF8String.fromString(rel), UTF8String.fromString(rel.substring(cut + 1)),
      UTF8String.fromString(folder),
      UTF8String.fromString(folder.substring(folder.lastIndexOf('/') + 1)))
  }

  def apply(absPath: Column, baseDir: String): Column =
    org.apache.spark.sql.GraftColumnBridge.column(PolPathMeta(
      org.apache.spark.sql.GraftColumnBridge.expression(absPath), baseDir))
}
