package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.pol.PoolJsonSink

/** SQL `CALL` maintenance for graft tables — the Iceberg procedure
  * pattern on Spark 4's ProcedureCatalog API, so the lifecycle a
  * table OPERATOR runs (compaction, retention, provenance) is SQL
  * like everything else:
  *
  * {{{
  * CALL gcat.system.optimize(tbl => 'default.games')
  * CALL gcat.system.vacuum(tbl => 'default.games', retain => 3)
  * CALL gcat.system.history(tbl => 'default.games')
  * }}}
  *
  * Each procedure resolves the table name through the SAME catalog
  * entry (namespace-qualified, `_LOCATION` pointers honored) and
  * delegates to the sink's maintenance entry points — the CAS-retry
  * compaction, retention-windowed vacuum, and O(manifests) history
  * the Scala face already proves. Results come back as LocalScan
  * rows, so `CALL` output is queryable like any result set.
  */
object GraftProcedures {

  val Names: Seq[String] =
    Seq("optimize", "vacuum", "history", "split", "analyze",
      "rollback", "tag", "drop_tag",
      "create_branch", "publish_branch", "drop_branch", "clone")

  private def str(s: String): UTF8String = UTF8String.fromString(s)

  /** Rows + schema as a LocalScan (the driver-side result contract). */
  private case class Result(schema: StructType, out: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = out
    override def readSchema(): StructType = schema
  }

  private def one(schema: StructType, values: Any*): java.util.Iterator[Scan] =
    java.util.List.of[Scan](Result(schema,
      Array(InternalRow.fromSeq(values)))).iterator()

  def load(catalog: GraftCatalog, name: String): UnboundProcedure =
    name.toLowerCase match {
      case "optimize" => new UnboundProcedure {
        override def name(): String = "optimize"
        override def description(): String =
          "compact a graft table's buckets (clustered OPTIMIZE)"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "optimize"
            override def description(): String = "graft OPTIMIZE"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType)
                .comment("table as '<namespace>.<name>'").build(),
              ProcedureParameter.in("max_files", IntegerType)
                .defaultValue("4")
                .comment("max data files per bucket before rewrite")
                .build(),
              ProcedureParameter.in("zorder", StringType)
                .defaultValue("CAST(NULL AS STRING)")
                .comment("comma-separated cluster columns: rewrite " +
                  "EVERY bucket range-sorted on them so zone maps " +
                  "actually exclude (the Delta OPTIMIZE ZORDER trade)")
                .build(),
              ProcedureParameter.in("split_by", StringType)
                .defaultValue("CAST(NULL AS STRING)")
                .comment("value-pure file splits on this column " +
                  "inside each bucket: per-file min == max, so " +
                  "DELETE WHERE col = v / value ranges commit " +
                  "metadata-only (file count scales with the " +
                  "column's cardinality — choose a low-cardinality " +
                  "column)")
                .build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val maxFiles = if (in.isNullAt(1)) 4 else in.getInt(1)
              val cluster =
                if (in.isNullAt(2)) Nil
                else in.getString(2).split(',').toSeq
                  .map(_.trim).filter(_.nonEmpty)
              val touched = PoolJsonSink.compactPartitions(
                SparkSession.active, dir,
                maxFilesPerPartition = maxFiles,
                clusterBy = cluster,
                splitBy = if (in.isNullAt(3)) None
                  else Some(in.getString(3).trim))
              one(StructType(Seq(
                StructField("compacted_buckets", IntegerType, false),
                StructField("version", LongType, true))),
                touched.size,
                PoolJsonSink.readManifest(dir).map(_.version).orNull)
            }
          }
      }
      case "vacuum" => new UnboundProcedure {
        override def name(): String = "vacuum"
        override def description(): String =
          "reclaim unreferenced files + expired versions"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "vacuum"
            override def description(): String = "graft VACUUM"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("retain", IntegerType)
                .defaultValue("1")
                .comment("committed versions to keep").build(),
              // Delta-style retention gate, defaulted SAFE: with 0,
              // every not-yet-referenced artifact of a CONCURRENT
              // in-flight write (staging dirs; data files moved into
              // data/ but not yet manifest-committed) is instantly
              // reclaimable, so a vacuum racing a writer could fail
              // the commit or strand a manifest pointing at deleted
              // files. 24 h clears any real in-flight write; tests and
              // probes that need immediate reclaim pass 0 explicitly.
              ProcedureParameter.in("min_age_ms", LongType)
                .defaultValue("86400000")
                .comment("delete nothing younger than this").build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val retain = if (in.isNullAt(1)) 1 else in.getInt(1)
              val minAge = if (in.isNullAt(2)) 86400000L else in.getLong(2)
              val removed = PoolJsonSink.vacuum(dir,
                retainVersions = retain, minAgeMs = minAge)
              // crashed-CTAS debris: `.ctas-*` staging tables live in
              // the NAMESPACE dir (invisible to listTables, outside
              // any table's own dir), so a driver crash between the
              // staged write and commit/abort would strand them
              // forever — no table-level sweep reaches them. Swept
              // here, gated on the NEWEST mtime in the staging tree
              // (an in-flight CTAS keeps writing, so its newest file
              // is always young; a crashed one is static and ages
              // past the gate).
              val cutoff = System.currentTimeMillis() - minAge
              def newest(f: java.io.File): Long =
                if (f.isDirectory)
                  (f.lastModified() +: Option(f.listFiles())
                    .getOrElse(Array.empty).map(newest).toSeq).max
                else f.lastModified()
              def countFiles(f: java.io.File): Int =
                if (f.isDirectory) Option(f.listFiles())
                  .getOrElse(Array.empty).map(countFiles).sum
                else 1
              val ctasSwept = Option(
                catalog.resolveNamespaceDir(in.getString(0)).listFiles())
                .getOrElse(Array.empty)
                .filter(d => d.isDirectory &&
                  d.getName.startsWith(".ctas-") && newest(d) <= cutoff)
                .map { d =>
                  val n = countFiles(d)
                  org.apache.commons.io.FileUtils.deleteDirectory(d)
                  n
                }.sum
              one(StructType(Seq(
                StructField("removed_files", IntegerType, false))),
                removed + ctasSwept)
            }
          }
      }
      case "history" => new UnboundProcedure {
        override def name(): String = "history"
        override def description(): String =
          "DESCRIBE HISTORY: one row per retained version, O(manifests)"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "history"
            override def description(): String = "graft HISTORY"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] =
              Array(ProcedureParameter.in("tbl", StringType).build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val df = PoolJsonSink.tableHistory(SparkSession.active, dir)
              java.util.List.of[Scan](Result(df.schema,
                df.queryExecution.executedPlan.executeCollect()))
                .iterator()
            }
          }
      }
      case "split" => new UnboundProcedure {
        override def name(): String = "split"
        override def description(): String =
          "grow the bucket count in place (shuffle-free bucket-local " +
            "rewrite: pmod(h, n*f) mod n == pmod(h, n))"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "split"
            override def description(): String = "graft SPLIT BUCKETS"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("factor", IntegerType)
                .defaultValue("2")
                .comment("bucket-count multiplier (>= 2)").build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val factor = if (in.isNullAt(1)) 2 else in.getInt(1)
              val key = PoolJsonSink.readManifest(dir)
                .flatMap(_.keyCol).getOrElse(sys.error(
                  s"${in.getString(0)}: manifest records no merge key"))
              val newN = PoolJsonSink.splitBuckets(
                SparkSession.active, dir,
                org.apache.spark.sql.functions.col(key), factor)
              one(StructType(Seq(
                StructField("nbuckets", IntegerType, false),
                StructField("version", LongType, true))),
                newN,
                PoolJsonSink.readManifest(dir).map(_.version).orNull)
            }
          }
      }
      case "analyze" => new UnboundProcedure {
        override def name(): String = "analyze"
        override def description(): String =
          "backfill zone maps + bloom sidecars for files predating " +
            "the statscols/bloomcols declaration (footer reads only, " +
            "no data rewrite)"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "analyze"
            override def description(): String = "graft ANALYZE"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] =
              Array(ProcedureParameter.in("tbl", StringType).build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val (stats, blooms) = PoolJsonSink.analyzeTable(
                SparkSession.active, dir)
              one(StructType(Seq(
                StructField("files_harvested", IntegerType, false),
                StructField("sidecars_built", IntegerType, false),
                StructField("version", LongType, true))),
                stats, blooms,
                PoolJsonSink.readManifest(dir).map(_.version).orNull)
            }
          }
      }
      case "rollback" => new UnboundProcedure {
        override def name(): String = "rollback"
        override def description(): String =
          "restore the table to a prior version's content as a NEW " +
            "commit (metadata-only at any size; history stays " +
            "append-only and the change feed diffs the restore)"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "rollback"
            override def description(): String = "graft ROLLBACK"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("version", StringType)
                .comment("version number OR tag to restore to").build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val prev = PoolJsonSink.readManifest(dir)
                .map(_.version).getOrElse(0L)
              val target = PoolJsonSink.resolveVersionRef(
                dir, in.getString(1))
              val head = PoolJsonSink.rollback(dir, target)
              one(StructType(Seq(
                StructField("previous_version", LongType, false),
                StructField("restored_to", LongType, false),
                StructField("new_version", LongType, false))),
                prev, target, head)
            }
          }
      }
      case "tag" => new UnboundProcedure {
        override def name(): String = "tag"
        override def description(): String =
          "pin a version under a name: vacuum retains it and " +
            "VERSION AS OF '<name>' addresses it forever"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "tag"
            override def description(): String = "graft TAG"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("name", StringType).build(),
              ProcedureParameter.in("version", LongType)
                .defaultValue("CAST(NULL AS BIGINT)")
                .comment("defaults to the current head").build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val v = if (in.isNullAt(2))
                PoolJsonSink.readManifest(dir).map(_.version)
                  .getOrElse(sys.error(
                    s"${in.getString(0)}: empty table, nothing to tag"))
                else in.getLong(2)
              PoolJsonSink.setTag(dir, in.getString(1), v)
              one(StructType(Seq(
                StructField("tag", StringType, false),
                StructField("version", LongType, false))),
                str(in.getString(1)), v)
            }
          }
      }
      case "drop_tag" => new UnboundProcedure {
        override def name(): String = "drop_tag"
        override def description(): String =
          "drop a tag; its version becomes reclaimable by vacuum"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "drop_tag"
            override def description(): String = "graft DROP TAG"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("name", StringType).build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val existed = PoolJsonSink.dropTag(dir, in.getString(1))
              one(StructType(Seq(
                StructField("existed", BooleanType, false))),
                existed)
            }
          }
      }
      case "create_branch" => new UnboundProcedure {
        override def name(): String = "create_branch"
        override def description(): String =
          "fork a write-audit-publish branch: a full graft table of " +
            "hard-linked files, writable as <t>.branch_<name>"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "create_branch"
            override def description(): String = "graft CREATE BRANCH"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("name", StringType).build(),
              ProcedureParameter.in("from", StringType)
                .defaultValue("CAST(NULL AS STRING)")
                .comment("version number or tag to fork from " +
                  "(default: current head)").build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val fork = PoolJsonSink.createBranch(dir, in.getString(1),
                if (in.isNullAt(2)) None else Some(in.getString(2)))
              one(StructType(Seq(
                StructField("branch", StringType, false),
                StructField("fork_version", LongType, false))),
                str(in.getString(1)), fork)
            }
          }
      }
      case "publish_branch" => new UnboundProcedure {
        override def name(): String = "publish_branch"
        override def description(): String =
          "fast-forward the branch's audited content into the table " +
            "as ONE new commit (fails if the table advanced past the " +
            "fork point)"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "publish_branch"
            override def description(): String = "graft PUBLISH BRANCH"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("name", StringType).build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val v = PoolJsonSink.publishBranch(dir, in.getString(1))
              one(StructType(Seq(
                StructField("branch", StringType, false),
                StructField("published_version", LongType, false))),
                str(in.getString(1)), v)
            }
          }
      }
      case "drop_branch" => new UnboundProcedure {
        override def name(): String = "drop_branch"
        override def description(): String =
          "drop a branch: its manifests and file LINKS go away; " +
            "bytes the table still references are untouched"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "drop_branch"
            override def description(): String = "graft DROP BRANCH"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("name", StringType).build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val dir = catalog.resolveDataDir(in.getString(0))
              val existed = PoolJsonSink.dropBranch(dir, in.getString(1))
              one(StructType(Seq(
                StructField("existed", BooleanType, false))),
                existed)
            }
          }
      }
      case "clone" => new UnboundProcedure {
        override def name(): String = "clone"
        override def description(): String =
          "zero-copy clone: register <target> as an independent graft " +
            "table whose initial version is <tbl>'s snapshot (hard " +
            "links — O(files), no data bytes move, and neither side's " +
            "vacuum can invalidate the other)"
        override def bind(inputType: StructType): BoundProcedure =
          new BoundProcedure {
            override def name(): String = "clone"
            override def description(): String = "graft CLONE"
            override def isDeterministic: Boolean = false
            override def parameters(): Array[ProcedureParameter] = Array(
              ProcedureParameter.in("tbl", StringType).build(),
              ProcedureParameter.in("target", StringType)
                .comment("new table as '<namespace>.<name>'").build(),
              ProcedureParameter.in("from", StringType)
                .defaultValue("CAST(NULL AS STRING)")
                .comment("version number or tag to clone " +
                  "(default: current head)").build())
            override def call(in: InternalRow): java.util.Iterator[Scan] = {
              val src = catalog.resolveDataDir(in.getString(0))
              val dst = catalog.createEntryFor(in.getString(1))
              val v = PoolJsonSink.cloneTable(src, dst,
                if (in.isNullAt(2)) None else Some(in.getString(2)))
              one(StructType(Seq(
                StructField("target", StringType, false),
                StructField("cloned_version", LongType, false))),
                str(in.getString(1)), v)
            }
          }
      }
      case other =>
        throw new RuntimeException(
          s"graft: no such procedure system.$other " +
            s"(have: ${Names.mkString(", ")})")
    }
}
