package graft.util

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path}

/** The one store for derived state the engine keeps between runs:
  * trained models, ANN indexes and their statistics, census numbers,
  * truth sets, the history snapshot and the staged tables.
  *
  *  - Key. An artifact is named by its kind and a key. [[key]] hashes
  *    the [[fingerprint]] of every input path together with the dials
  *    the build reads (a cap, `k`), so changed input content or a
  *    changed dial names a different artifact and a stale one is never
  *    served. A kind carries its format version in its name
  *    (`ivfpq2_trained`, `occ_dedup_v2`).
  *  - Publish. [[text]] and [[dir]] build into a fresh staging path
  *    next to `java.io.tmpdir/graft_<kind>_<key>` and publish it with
  *    one rename. A builder that loses the race deletes its staging
  *    copy and serves the winner's; a build that throws deletes its
  *    staging copy and publishes nothing. A published artifact is not
  *    rewritten, except by two commits through the manifest CAS:
  *    `HistorySnapshot.appendDigests` upserts into the snapshot's
  *    keyed table, and r24's one-time OPTIMIZE re-lays the staged
  *    orders table (same rows). Nothing is evicted.
  *  - Memo. [[memo]] is the one in-process memo: resolved artifacts
  *    and the in-process-only values (inferred schemas, corpus counts)
  *    are held under their full key for the life of the JVM.
  */
object Artifacts {

  /** Content fingerprint of everything under `path` (12 hex chars):
    * every file below it, listed through its Hadoop `FileSystem`,
    * hashed as (qualified path, length, mtime). The path is qualified
    * first, so `/x` and `file:/x` fingerprint alike; a missing path
    * fingerprints as its name alone. The walk uses `listStatus`, not
    * `listFiles`: a located status reads owner and permissions, which
    * the local FileSystem gets by running `ls` once per file.
    */
  def fingerprint(path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val q = fs.makeQualified(p)
    val files = Vector.newBuilder[String]
    def walk(st: FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
      else files += s"${st.getPath}:${st.getLen}:${st.getModificationTime}"
    try walk(fs.getFileStatus(q))
    catch { case _: java.io.FileNotFoundException => }
    md5((q.toString +: files.result().sorted).mkString("\n")).take(12)
  }

  /** An artifact key: the inputs' fingerprints and the dials. */
  def key(inputs: Seq[String], dials: Any*): String =
    md5((inputs.map(fingerprint) ++ dials.map(String.valueOf))
      .mkString("\u0000")).take(16)

  /** Where (kind, key) is published. */
  def location(kind: String, key: String): File =
    new File(sys.props("java.io.tmpdir"), s"graft_${kind}_$key")

  /** A one-file artifact's content, built by `build` on first ask. */
  def text(kind: String, key: String)(build: => String): String =
    memo(kind, key) {
      val target = location(kind, key)
      if (!target.isFile)
        publish(target)(f => Files.write(f.toPath, build.getBytes(UTF_8)))
      new String(Files.readAllBytes(target.toPath), UTF_8)
    }

  /** A directory artifact's path; `build` fills the staging directory
    * it is handed.
    */
  def dir(kind: String, key: String)(build: String => Unit): String =
    memo(kind, key) {
      val target = location(kind, key)
      if (!target.isDirectory)
        publish(target) { f => f.mkdirs(); build(f.toString) }
      target.toString
    }

  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }
  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  /** The value under (kind, key), computed once per JVM. Concurrent
    * askers of one key wait for a single computation; one that throws
    * leaves nothing behind, so the next ask computes again.
    */
  def memo[T](kind: String, key: String)(compute: => T): T = {
    val k = s"${kind}_$key"
    val cell = cells.computeIfAbsent(k, _ => new Cell(() => compute))
    var ok = false
    try { val v = cell.value.asInstanceOf[T]; ok = true; v }
    finally if (!ok) cells.remove(k, cell)
  }

  private[util] def publish(target: File)(build: File => Unit): Unit = {
    val staging = new File(target.getParentFile,
      s"${target.getName}.staging_${java.util.UUID.randomUUID()}")
    try {
      build(staging)
      // a directory rename onto a published (non-empty) directory
      // fails, so exactly one racing builder's output stands
      if (!target.exists() && !staging.renameTo(target) && !target.exists())
        throw new java.io.IOException(s"could not publish $target")
    } finally TempDirs.deleteRecursively(staging.toPath)
  }

  private lazy val defaultConf = new org.apache.hadoop.conf.Configuration()

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(defaultConf)

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(UTF_8)).map(b => f"$b%02x").mkString
}
