package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types._

/** The table's placement function as a V2 catalog function —
  * `bucket(nBuckets, key) = pmod(xxhash64(key), nBuckets)` — which is
  * what lets NAME-based catalog tables report their layout as a
  * `bucket(n, key)` partitioning Catalyst can RESOLVE (a bucket
  * transform resolves through the owning catalog's FunctionCatalog;
  * a path-addressed `format("graft")` table can't provide one, which
  * is why it reports identity over the stored `__pt` instead — see
  * GraftSpjTable's scaladoc). With both join sides resolving to THIS
  * function (same canonical name, same bucket count), Spark's
  * storage-partitioned join machinery elides both exchanges for plain
  * `a JOIN b USING (key)` SQL — no `__pt` conjunct, no Scala helper.
  *
  * The arithmetic is bit-identical to [[graft.pol.PoolJsonSink
  * .bucketExpr]] (XXH64 seed 42, floorMod), so reported partition
  * values always equal stored placement.
  */
object GraftBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(nBuckets, key): the graft table placement function " +
      "pmod(xxhash64(key), nBuckets)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (nBuckets, key), got ${inputType.simpleString}")
    val keyType = inputType.fields(1).dataType
    keyType match {
      case LongType | IntegerType | StringType =>
        new GraftBoundBucket(keyType)
      case other => sys.error(
        s"bucket: unsupported key type ${other.simpleString} " +
          "(long, int and string keys are bucketable)")
    }
  }
}

class GraftBoundBucket(keyType: DataType)
    extends ScalarFunction[java.lang.Long] {

  override def name(): String = "bucket"

  override def canonicalName(): String = s"graft.bucket($keyType)"

  override def inputTypes(): Array[DataType] =
    Array(IntegerType, keyType)

  override def resultType(): DataType = LongType

  override def isResultNullable: Boolean = false

  /** Same hash as Spark's `xxhash64(...)` expression at seed 42 —
    * evaluated through the identical interpreted path so the function
    * value always equals the stored `__pt`. A NULL key matches the
    * Catalyst hash contract too: hash expressions SKIP null children,
    * leaving the seed — so NULL buckets at pmod(42, n), exactly where
    * the writer's bucketExpr places it.
    */
  override def produceResult(input: InternalRow): java.lang.Long = {
    val n = input.getInt(0)
    if (input.isNullAt(1))
      return java.lang.Long.valueOf(java.lang.Math.floorMod(42L, n.toLong))
    val key: Any = keyType match {
      case LongType => input.getLong(1)
      case IntegerType => input.getInt(1)
      case StringType => input.getUTF8String(1)
    }
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(key, keyType, 42L)
    java.lang.Long.valueOf(java.lang.Math.floorMod(h, n.toLong))
  }

  // ScalarFunction "magic" overloads: codegen calls these primitive
  // entry points directly (no boxing, no InternalRow accessor per
  // row) on the distribution exchange's hot path; produceResult
  // remains the null-capable fallback.
  def invoke(n: Int, key: Long): Long = java.lang.Math.floorMod(
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(key, LongType, 42L), n.toLong)
  def invoke(n: Int, key: Int): Long = java.lang.Math.floorMod(
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(key, IntegerType, 42L), n.toLong)
  def invoke(n: Int, key: org.apache.spark.unsafe.types.UTF8String)
      : Long = java.lang.Math.floorMod(
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(key, StringType, 42L), n.toLong)
}
