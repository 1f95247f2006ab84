package graft.streaming

import java.nio.file.Files
import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite
import graft.QueryHarness.spark
import graft.pol.PoolJsonSink

/** Ledger-based changed-files mode: new files processed once, unchanged
  * files skipped, MODIFIED files reprocessed and their documents
  * replaced — the reference's git-diff semantics.
  */
class ChangedFilesSpec extends AnyFunSuite {
  private val lookup = "src/test/resources/lookup/game_lookup.csv"

  test("new / unchanged / modified file lifecycle") {
    val dir = Files.createTempDirectory("chg")
    val out = dir.resolve("all_pools_data.json")
    val ledger = dir.resolve("ledger.parquet").toString
    val ts = Some("2026-01-01T00:00:00+00:00")

    def write(name: String, body: String) = {
      val p = dir.resolve(name)
      Files.write(p, body.getBytes(StandardCharsets.UTF_8))
      // mtime granularity on some filesystems is 1s; make changes visible
      p.toFile.setLastModified(System.currentTimeMillis())
    }

    write("Pool_0300_395.pol", "5 TB1\n7 TB1\n")
    write("Pool_0301_1.pol", "9 TB1\n")

    // run 1: both files are new
    assert(ChangedFiles.runOnce(spark, dir.toString, lookup, out, ledger, ts) == 2)
    val first = Files.readString(out)
    assert(first.contains("\"Pool_0300_395.pol\""))
    assert(first.contains("\"size\": 2"))

    // run 2: nothing changed → nothing processed, output untouched
    assert(ChangedFiles.runOnce(spark, dir.toString, lookup, out, ledger, ts) == 0)
    assert(Files.readString(out) == first)

    // run 3: modify one file (extra line) → exactly 1 reprocessed and
    // its document replaced in place
    val p = dir.resolve("Pool_0300_395.pol")
    Files.write(p, "5 TB1\n7 TB1\n11 TB2\n".getBytes(StandardCharsets.UTF_8))
    p.toFile.setLastModified(System.currentTimeMillis() + 2000)
    assert(ChangedFiles.runOnce(spark, dir.toString, lookup, out, ledger, ts) == 1)
    val third = Files.readString(out)
    assert(third.contains("\"size\": 3"), third)
    assert(third.contains("\"Pool_0301_1.pol\"")) // untouched entry survives

    // run 4: stable again
    assert(ChangedFiles.runOnce(spark, dir.toString, lookup, out, ledger, ts) == 0)

    // run 5: a new file arrives → only it is processed; it is appended
    // after the existing keys, whose order is kept
    write("Pool_0299_1.pol", "3 TB1\n")
    assert(ChangedFiles.runOnce(spark, dir.toString, lookup, out, ledger, ts) == 1)
    val keys = PoolJsonSink.splitTopLevel(Files.readString(out)).map(_._1)
    assert(keys == Seq("Pool_0300_395.pol", "Pool_0301_1.pol", "Pool_0299_1.pol"))
  }
}
