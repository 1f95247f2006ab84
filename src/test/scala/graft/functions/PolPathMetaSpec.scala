package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.spark

/** [[PolPathMeta]] equals the regex chain it replaced — kept here as
  * the oracle — on scan URIs, listed paths and awkward base dirs, both
  * interpreted (a local relation is folded on the driver) and in
  * generated code, where the memo lives.
  */
class PolPathMetaSpec extends AnyFunSuite {

  /** The former `PolParser.pathMeta`: decode a URI holding a `%`
    * (keeping `+`), strip the `file:` scheme and the base dir with
    * regexes.
    */
  private def oracle(df: DataFrame, baseDir: String): DataFrame = {
    val abs = col("abs_path")
    val path = when(abs.contains("%") && abs.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"),
        url_decode(regexp_replace(abs, "\\+", "%2B")))
      .otherwise(abs)
    val rel = regexp_replace(
      regexp_replace(path, "^file:/*", "/"),
      "^" + java.util.regex.Pattern.quote(baseDir) + "/", "")
    df.withColumn("relative_path", rel)
      .withColumn("folder_path",
        when(col("relative_path").contains("/"),
          regexp_replace(col("relative_path"), "/[^/]*$", ""))
          .otherwise(lit("")))
      .withColumn("parent_folder", substring_index(col("folder_path"), "/", -1))
      .withColumn("file_name", substring_index(col("relative_path"), "/", -1))
  }

  private val Cols = Seq("relative_path", "file_name", "folder_path", "parent_folder")

  private def native(df: DataFrame, baseDir: String): DataFrame = {
    val m = PolPathMeta(col("abs_path"), baseDir)
    Cols.foldLeft(df)((d, n) => d.withColumn(n, m.getField(n)))
  }

  private def rows(df: DataFrame) =
    df.select(Cols.map(col): _*).collect().map(_.toSeq).toSeq

  /** `paths` as a local relation, and as one RDD partition (a plan the
    * optimizer cannot fold, so it runs generated code).
    */
  private def frames(paths: Seq[String]): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val schema = StructType(Seq(StructField("abs_path", StringType)))
    Seq("local" -> paths.toDF("abs_path"),
      "codegen" -> spark.createDataFrame(
        spark.sparkContext.parallelize(paths.map(Row(_)), 1), schema))
  }

  private def assertParity(paths: Seq[String], baseDir: String): Unit =
    frames(paths).foreach { case (kind, df) =>
      val want = rows(oracle(df, baseDir))
      assert(compiled(rows(native(df, baseDir))) == want, s"$kind, base $baseDir")
    }

  /** `body` with whole-stage codegen's interpreted fallback off, so a
    * generated-code compile error fails the test instead of hiding.
    */
  private def compiled[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("PolPathMeta equals the regex chain on scan URIs and listed paths") {
    assertParity(Seq(
      "file:/data/pools/group%201/Pool_1_100%25x.pol",
      "file:///data/pools/a+b/gr%C3%A9/Pool_2.pol",
      "file:/data/pools/日本/Pool_3.pol",
      "/data/pools/100%25 b/Pool_4.pol",
      "/data/pools/x/y/Pool_5.pol",
      "file:/data/pools/Pool_6_395.pol",
      "/data/pools/Pool_7.pol",
      "file://data/pools/z/Pool_8.pol",
      "file:/elsewhere/Pool_9.pol",
      "/elsewhere/q/Pool_10.pol",
      "hdfs://nn/data/pools/h%20dir/Pool_11.pol",
      "file:/data/poolsX/Pool_12.pol",
      "Pool_13.pol",
      null), "/data/pools")
  }

  test("a base dir holding regex metacharacters is matched literally") {
    Seq("/w/a+b", "/w/(x)", "/w/[y]$").foreach { base =>
      assertParity(Seq(
        s"file:$base/g/Pool_1.pol",
        s"file://$base/Pool_2.pol",
        s"$base/g/h/Pool_3.pol",
        "file:/w/ab/Pool_4.pol",
        "/w/x/Pool_5.pol",
        s"file:${base.replace("+", "%2B")}/%C3%A9/Pool_6.pol"), base)
    }
  }

  test("alternating paths in one partition never reuse a stale result") {
    // equal byte lengths: a memo that kept a view of the scan's reused
    // row buffer instead of a copy would see b's bytes under a's key
    val a = "file:/data/pools/g%201/Pool_1.pol"
    val b = "file:/data/pools/h/i/j/Pool_2.pol"
    assert(a.length == b.length)
    val paths = Seq(a, a, b, a, b, b, a, null, a, b)
    assertParity(paths, "/data/pools")
    val got = compiled(rows(native(frames(paths)(1)._2, "/data/pools"))).map(_.head)
    assert(got == paths.map {
      case `a` => "g 1/Pool_1.pol"
      case `b` => "h/i/j/Pool_2.pol"
      case _ => null
    })
  }
}
