package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Artifacts

/** Artifact fingerprints over DIRECTORY tables: a production parquet
  * table is a directory of part files, and a single-file (mtime,
  * length) fingerprint could serve a STALE census after an in-place
  * part-file rewrite — the exact regime the census exists to prevent.
  * [[graft.util.Artifacts.fingerprint]] hashes every member file's
  * (path, length, mtime), so any member-file change re-keys every
  * artifact that hangs off it (LshCensus occupancy, the KMeans/PQ
  * model registry, d16's truth set).
  */
class CensusFingerprintSpec extends AnyFunSuite {

  private def fixture(): (java.io.File, java.io.File) = {
    val root = java.nio.file.Files
      .createTempDirectory("graft_fp_").toFile
    val t = new java.io.File(root, "documents.parquet")
    assert(t.mkdir())
    (root, t)
  }

  private def write(
      dir: java.io.File, name: String, content: String,
      mtime: Long): Unit = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.write(f.toPath,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(f.setLastModified(mtime))
  }

  test("a directory table's fingerprint is stable until a member file changes") {
    val (root, t) = fixture()
    write(t, "part-00000", "aaaa", 1000000000000L)
    write(t, "part-00001", "bbbb", 1000000000000L)
    val k0 = Artifacts.fingerprint(s"$root/documents.parquet")
    assert(k0 == Artifacts.fingerprint(s"$root/documents.parquet"),
      "pure function of on-disk state")

    // in-place rewrite: same file count, same total bytes, NEWER
    // mtime — the exact case the old fingerprint missed (directory
    // mtime does not move when a child's content changes)
    write(t, "part-00001", "cccc", 1000000001000L)
    val k1 = Artifacts.fingerprint(s"$root/documents.parquet")
    assert(k1 != k0, "member-file rewrite must re-key")

    // appended part file (count + bytes change, mtimes unchanged)
    write(t, "part-00002", "dd", 1000000000000L)
    val k2 = Artifacts.fingerprint(s"$root/documents.parquet")
    assert(k2 != k1, "new member file must re-key")

    // byte growth alone (same count, same max mtime)
    write(t, "part-00002", "ddee", 1000000000000L)
    val k3 = Artifacts.fingerprint(s"$root/documents.parquet")
    assert(k3 != k2, "member-file byte change must re-key")
  }

  test("single-file tables (the testdata layout) still fingerprint and differ") {
    import graft.QueryHarness._
    val a = Artifacts.fingerprint(s"$sf0001/documents.parquet")
    val b = Artifacts.fingerprint(s"$sf001/documents.parquet")
    assert(a.length == 12 && b.length == 12)
    assert(a != b)
    assert(a == Artifacts.fingerprint(s"$sf0001/documents.parquet"))
  }

  test("the model registry keys through the same recursive fingerprint") {
    val (root, t) = fixture()
    // the model registry keys on embeddings.parquet
    val e = new java.io.File(root, "embeddings.parquet")
    assert(e.mkdir())
    write(e, "part-00000", "vvvv", 1000000000000L)
    val k0 = Artifacts.key(Seq(s"$root/embeddings.parquet"))
    write(e, "part-00000", "wwww", 1000000001000L)
    assert(Artifacts.key(Seq(s"$root/embeddings.parquet")) != k0,
      "a regenerated embeddings part file must re-key the registry")
    assert(t.isDirectory) // fixture hygiene
  }
}
