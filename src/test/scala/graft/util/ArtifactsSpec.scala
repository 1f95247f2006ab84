package graft.util

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.QueryHarness.{spark, sf0001, sf001}

/** The artifact store's contract: keys follow input CONTENT (a table
  * rewritten in place at the same path, in the same JVM, is never
  * served from the old key — including through a `file:` URI), and
  * publishing is one rename that racing or failing builders cannot
  * corrupt.
  */
class ArtifactsSpec extends AnyFunSuite {

  private def corpusWith(table: String, from: String): File = {
    val d = Files.createTempDirectory("graft_artifacts_corpus_").toFile
    swap(d, table, from)
    d
  }

  private def swap(d: File, table: String, from: String): Unit = {
    Files.copy(new File(from, table).toPath, new File(d, table).toPath,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  private def stagingLeft(kind: String, key: String): Seq[String] = {
    val prefix = Artifacts.location(kind, key).getName + ".staging"
    Option(new File(sys.props("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith(prefix))
  }

  test("a k-means model re-trains when the embeddings are replaced in place") {
    val d = corpusWith("embeddings.parquet", sf0001)
    assert(graft.llm.KMeans.fit(spark, d.toString).rounds == 13)
    swap(d, "embeddings.parquet", sf001)
    assert(graft.llm.KMeans.fit(spark, d.toString).rounds == 21,
      "the model must follow the new embeddings, not the old path")
  }

  test("the history snapshot re-builds when the documents are replaced in place") {
    val d = corpusWith("documents.parquet", sf0001)
    val before = graft.llm.HistorySnapshot.forCorpus(spark, d.toString)
    assert(before.nDigests ==
      graft.llm.HistorySnapshot.forCorpus(spark, sf0001).nDigests)
    swap(d, "documents.parquet", sf001)
    assert(graft.llm.HistorySnapshot.forCorpus(spark, d.toString).nDigests ==
      graft.llm.HistorySnapshot.forCorpus(spark, sf001).nDigests)
  }

  test("schemaOf through a file: URI re-infers after the table is rewritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_artifacts_schema_").toString
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val s1 = graft.Tables.schemaOf(spark, "file:" + dir, "documents")
    assert(s1.fieldNames.toSeq == Seq("id", "v"))
    Seq((1L, "a", 2.0)).toDF("id", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val s2 = graft.Tables.schemaOf(spark, "file:" + dir, "documents")
    assert(s2.fieldNames.toSeq == Seq("id", "v", "w"))
    assert(Artifacts.fingerprint(s"$dir/documents.parquet") ==
      Artifacts.fingerprint(s"file:$dir/documents.parquet"))
  }

  /** `body(i)` on `n` threads at once; their results in order. */
  private def race[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try (0 until n).map(i => pool.submit(
      new java.util.concurrent.Callable[T] { def call(): T = body(i) }))
      .map(_.get())
    finally pool.shutdown()
  }

  test("eight racing builders publish exactly one output and leave no staging") {
    val kind = "spec_race"
    val key = java.util.UUID.randomUUID().toString.take(8)
    // through the store: the memo lets one builder run
    val paths = race(8)(i => Artifacts.dir(kind, key) { st =>
      Files.write(new File(st, s"builder_$i").toPath, Array[Byte](1))
      ()
    })
    assert(paths.distinct.size == 1)
    assert(new File(paths.head).list().length == 1)

    // and at the rename itself, as separate processes would race:
    // every builder finishes its staging copy before any publishes
    val target = Artifacts.location(kind, key + "_raw")
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    race(8)(i => Artifacts.publish(target) { st =>
      st.mkdirs()
      Files.write(new File(st, s"builder_$i").toPath, Array[Byte](1))
      barrier.await()
      ()
    })
    assert(target.list().length == 1,
      s"published dir mixes builders: ${target.list().toSeq}")
    assert(stagingLeft(kind, key).isEmpty &&
      stagingLeft(kind, key + "_raw").isEmpty)
  }

  test("a build that throws publishes nothing and the next call builds") {
    val kind = "spec_fail"
    val key = java.util.UUID.randomUUID().toString.take(8)
    intercept[IllegalStateException](Artifacts.dir(kind, key) { st =>
      Files.write(new File(st, "half").toPath, Array[Byte](1))
      throw new IllegalStateException("build failed")
    })
    intercept[IllegalStateException](
      Artifacts.text(kind, key + "_t")(throw new IllegalStateException("no")))
    assert(!Artifacts.location(kind, key).exists())
    assert(!Artifacts.location(kind, key + "_t").exists())
    assert(stagingLeft(kind, key).isEmpty)

    val p = Artifacts.dir(kind, key) { st =>
      Files.write(new File(st, "whole").toPath, Array[Byte](1))
      ()
    }
    assert(new File(p).list().toSeq == Seq("whole"))
    assert(Artifacts.text(kind, key + "_t")("ok\n") == "ok\n")
  }
}
