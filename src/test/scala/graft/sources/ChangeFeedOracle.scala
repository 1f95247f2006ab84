package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pol.PoolJsonSink
import graft.pol.PoolJsonSink.TableManifest

/** A plain DataFrame statement of the change feed, for the specs to
  * hold the engine's per-bucket hash diff ([[GraftChangesTable]])
  * against. Each version pair is one full-outer join of the two
  * snapshots on the key, assembled on the driver: key only in new →
  * `insert`, only in old → `delete`, in both with rows that differ
  * under null-safe struct equality → `update_preimage` (old row) +
  * `update_postimage` (new row). It reads every bucket of both
  * snapshots, so it shares no bucket pruning with the engine.
  */
object ChangeFeedOracle {

  /** Null-fill `df` up to the union of its columns with `other`'s (the
    * additive-schema-evolution case: rows written before a new column
    * existed diff as NULL in it), returning columns in a canonical
    * order so both sides' structs compare field-by-field.
    */
  private def aligned(df: DataFrame, other: DataFrame): DataFrame = {
    val cols = (df.columns ++ other.columns).distinct.sorted.toSeq
    df.unionByName(other.limit(0), allowMissingColumns = true)
      .select(cols.map(col): _*)
  }

  /** The row-level diff of two resolved snapshots (`m0` None = the
    * genesis diff, where every row of `m1` is an insert). Output =
    * table columns (minus the internal `__pt`) + `_change_type` +
    * `_commit_version` (= `m1.version`).
    */
  private def diffPair(
      spark: SparkSession, tableDir: String,
      m0: Option[TableManifest], m1: TableManifest,
      key: Column): DataFrame = {
    val base = m0.getOrElse(
      TableManifest(0L, Map.empty, Map.empty, m1.schemaJson))
    val all = (base.buckets.keySet ++ m1.buckets.keySet).toSeq.sorted
    val oldRaw = PoolJsonSink
      .readBucketsOf(spark, tableDir, base, all).drop("__pt")
    val newRaw = PoolJsonSink
      .readBucketsOf(spark, tableDir, m1, all).drop("__pt")
    val oldDf = aligned(oldRaw, newRaw)
    val newDf = aligned(newRaw, oldRaw)
    val cols = newDf.columns.toSeq
    val o = oldDf.select(key.as("__ck"), struct(cols.map(col): _*).as("__o"))
    val n = newDf.select(key.as("__ck"), struct(cols.map(col): _*).as("__n"))
    val ct = when(col("__n").isNull, lit("delete"))
      .when(col("__o").isNull, lit("insert"))
      .when(!(col("__o") <=> col("__n")), lit("update"))
    val j = o.join(n, Seq("__ck"), "full_outer")
      .withColumn("__ct", ct)
      .where(col("__ct").isNotNull)
    val images = j.select(col("__o"), col("__n"),
      explode(when(col("__ct") === "update",
        array(lit("update_preimage"), lit("update_postimage")))
        .otherwise(array(col("__ct")))).as(GraftChanges.ChangeTypeCol))
    val src = when(
      col(GraftChanges.ChangeTypeCol).isin("delete", "update_preimage"),
      col("__o")).otherwise(col("__n"))
    images.select(
      cols.map(c => src.getField(c).as(c)) :+
        col(GraftChanges.ChangeTypeCol) :+
        lit(m1.version).as(GraftChanges.CommitVersionCol): _*)
  }

  /** Changes committed in versions (`fromVersion`, `toVersion`], one
    * diff per adjacent pair of versions still on disk, each row tagged
    * with the version that changed it; `fromVersion = 0` replays from
    * genesis. Versions reclaimed by vacuum inside the range fold into
    * the next surviving version's diff.
    */
  def readTableChanges(
      spark: SparkSession, tableDir: String,
      fromVersion: Long, toVersion: Long, key: Column): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val mTo = PoolJsonSink.readManifestAt(tableDir, toVersion)
    val mFrom =
      if (fromVersion == 0L) None
      else Some(PoolJsonSink.readManifestAt(tableDir, fromVersion))
    if (fromVersion == toVersion)
      diffPair(spark, tableDir, Some(mTo), mTo, key) // empty, right schema
    else
      PoolJsonSink.listVersions(tableDir)
        .filter(v => v > fromVersion && v <= toVersion)
        .foldLeft((mFrom, Seq.empty[DataFrame])) { case ((prev, acc), v) =>
          val m = PoolJsonSink.readManifestAt(tableDir, v)
          (Some(m), acc :+ diffPair(spark, tableDir, prev, m, key))
        }._2
        .reduce(_.unionByName(_))
  }
}
