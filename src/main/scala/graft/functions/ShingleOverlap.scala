package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: x8's per-document overlap with a
  * benchmark shingle set held as a plan literal —
  * `struct(n_shingles, n_overlap)` of a document's DISTINCT shingle
  * hashes ([[ShingleHashes]]) against `bench`, a sorted duplicate-free
  * `long[]`.
  *
  * Equal to the explode → broadcast join → doc-keyed aggregate form
  * (`n_shingles = size(hs)`, `n_overlap = count` of `hs` elements in
  * the set), but map-only: each element is one probe of an
  * open-addressed table, and no row leaves the projection. The set is
  * collected to the driver once (benchmarks are MBs by contract) and
  * ships with the plan as the sorted array, as x9's bloom sketch does;
  * the table is built where the plan runs.
  */
case class ShingleOverlap(child: Expression, bench: Array[Long])
  extends UnaryExpression {

  @transient private lazy val set = new ShingleOverlap.LongSet(bench)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_overlap needs array<bigint>, got $other")
    }
  override def dataType: DataType = ShingleOverlap.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_overlap"
  // the set's size, not its elements, in plan strings
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"${bench.length} benchmark shingles")

  override def nullSafeEval(input: Any): Any =
    ShingleOverlap.compute(input.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("benchShingles", set,
      classOf[ShingleOverlap.LongSet].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleOverlap.compute($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleOverlap {

  val schema: StructType = StructType(Seq(
    StructField("n_shingles", IntegerType, nullable = false),
    StructField("n_overlap", LongType, nullable = false)))

  /** A set of non-negative longs: the sorted array is what serializes;
    * the open-addressed table (load ≤ 1/2, -1 = empty) is built on first
    * use. A binary search over a ~40k-element set cost ~100 ns per probe,
    * a table probe a few.
    */
  final class LongSet(sorted: Array[Long]) extends Serializable {
    @transient lazy val table: Array[Long] = {
      val t = new Array[Long](
        Integer.highestOneBit(math.max(sorted.length, 2) * 2 - 1) * 2)
      java.util.Arrays.fill(t, -1L)
      sorted.foreach { v =>
        require(v >= 0, "shingle hashes are non-negative")
        var slot = slotOf(v, t.length - 1)
        while (t(slot) != -1L) slot = (slot + 1) & (t.length - 1)
        t(slot) = v
      }
      t
    }
  }

  private def slotOf(v: Long, mask: Int): Int =
    ((v * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask

  /** Per-row kernel, shared by interpreted eval and codegen. `hs` holds
    * no nulls (ShingleHashes emits containsNull = false).
    */
  def compute(hs: ArrayData, bench: LongSet): InternalRow = {
    val t = bench.table
    val mask = t.length - 1
    val n = hs.numElements()
    var hits = 0L
    var i = 0
    while (i < n) {
      val v = hs.getLong(i)
      var slot = slotOf(v, mask)
      while (t(slot) != -1L && t(slot) != v) slot = (slot + 1) & mask
      if (t(slot) == v) hits += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](n, hits))
  }

  /** Column API; `bench` must be sorted and duplicate-free. */
  def apply(hs: Column, bench: Array[Long]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(ShingleOverlap(
      org.apache.spark.sql.GraftColumnBridge.expression(hs), bench))
}
